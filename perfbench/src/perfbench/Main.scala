package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.queries.GraftQuery

/** JVM side of the benchmark: builds the session, runs one workload against
  * the engine's public entry points and writes every raw sample to one JSON
  * file. All statistics, correctness checks and the final result line are
  * computed by `run.py` from that file.
  *
  * Usage: perfbench.Main <config.json>
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Queries whose builders stage fixtures under a fixed `/tmp` path
    * (`graft.queries.Staging`) or write sink tables: running them would
    * write outside the benchmark's own directory and reuse fixtures staged
    * from another seed's tables.
    */
  val writesOutside: Set[String] = Set(
    "q43", "q44", "q45", "q52", "q53", "q54", "q55", "q56", "q68",
    "q129", "q130", "q145", "q148", "q236", "q237")

  def prefix(q: GraftQuery): String = q.name.takeWhile(_ != '_')
  def llmTagged(q: GraftQuery): Boolean =
    q.survey.split("\\s+").exists(_.matches("L\\d+"))

  /** A fixed, seed-independent sample of a query list: every `stride`-th
    * query in registry order, so each run measures the same work and the
    * seed only orders or draws from it.
    */
  def every(qs: Seq[GraftQuery], stride: Int): Seq[GraftQuery] =
    qs.zipWithIndex.collect { case (q, i) if i % stride == 0 => q }

  def main(args: Array[String]): Unit = {
    val cfg = json.readValue(Files.readString(Paths.get(args(0))), classOf[Map[String, Any]])
    val c = Config(cfg)
    val registry = graft.SparkEntry.registry
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    val (llm, ref) = registry.partition(llmTagged)
    out("registry") = Map(
      "queries" -> registry.size, "llm_tagged" -> llm.size,
      "reference_surface" -> ref.size,
      "llm_list" -> llm.map(_.name), "reference_list" -> ref.map(_.name),
      "excluded_writes_outside" -> registry.map(_.name)
        .filter(n => writesOutside(n.takeWhile(_ != '_'))))
    out("session") = Session.conf(c)
    def sample(qs: Seq[GraftQuery]): Seq[GraftQuery] =
      every(qs.filterNot(q => writesOutside(prefix(q))),
        c.get("stride").asInstanceOf[Number].intValue)
    val result = c.workload match {
      case "ops-serve" => new BatchWorkload(c, sample(ref), openLoop = true).run()
      case "corpus-batch" => new BatchWorkload(c, sample(llm), openLoop = false).run()
      case "ais-stream" => new AisWorkload(c).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out ++= result
    out("rss_peak_mb") = Jvm.rssPeakMb
    Files.writeString(Paths.get(c.out), json.writeValueAsString(out))
  }
}

object Config {
  /** Timed sections of a run: one untraced, or for a traced run untraced,
    * traced, untraced, so that the tracing overhead is not confused with
    * the warm-up still going on between the first two.
    */
  def sections(trace: Boolean): Seq[Boolean] =
    if (trace) Seq(false, true, false) else Seq(false)
}

/** Settings handed over by `run.py`. */
final case class Config(raw: Map[String, Any]) {
  private def num(k: String): Double = raw(k).asInstanceOf[Number].doubleValue
  val workload: String = raw("workload").toString
  val data: String = raw("data").toString
  val work: String = raw("work").toString
  val out: String = raw("out").toString
  val seed: Long = num("seed").toLong
  val seconds: Double = num("seconds")
  val trace: Boolean = num("trace") != 0
  val cores: Int = num("cores").toInt
  val setups: Int = num("setups").toInt
  /** (rate per second, seconds) per rung, ascending. */
  val ladder: Seq[(Double, Double)] = raw.get("ladder").toSeq.flatMap(
    _.asInstanceOf[Seq[Seq[Number]]].map(r => (r(0).doubleValue, r(1).doubleValue)))
  def get(k: String): Any = raw(k)
}

/** One session factory for every workload: `graft.Bench`'s settings on all
  * cores, with Spark's local files kept inside the benchmark's own
  * directory.
  */
object Session {
  def conf(c: Config): Map[String, String] = Map(
    "spark.master" -> s"local[${c.cores}]",
    "spark.sql.shuffle.partitions" -> c.cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.local.dir" -> s"${c.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${c.work}/warehouse")

  def start(c: Config): SparkSession = {
    val b = SparkSession.builder()
    conf(c).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** JVM counters read around a timed section. */
object Jvm {
  import java.lang.management.ManagementFactory
  private val comp = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def jitS: Double = comp.map(_.getTotalCompilationTime).getOrElse(0L) / 1e3
  def gcS: Double = gcs.map(_.getCollectionTime).sum / 1e3
  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** A monotonic clock in seconds since the start of the JVM's timed work,
  * plus the epoch-millisecond offset that maps Spark listener times onto it.
  */
object Clock {
  private val t0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - t0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - ms0) / 1e3
  def sleepUntil(t: Double): Unit = {
    var left = t - now
    while (left > 0) {
      if (left > 0.002) Thread.sleep(((left - 0.001) * 1000).toLong)
      else Thread.onSpinWait()
      left = t - now
    }
  }
}

