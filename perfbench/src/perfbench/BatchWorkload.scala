package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.GraftQuery

/** The two batch workloads over the query registry.
  *
  * `openLoop` (ops-serve): requests are due at fixed rates along the
  * ladder, drawn from `queries` with the seed, and at most
  * `cores` run at once on one session; each request's latency runs from its
  * due time. Otherwise (corpus-batch): one client runs every query in a
  * seeded order, pass after pass, until `seconds` have gone and at least
  * two passes are complete.
  *
  * Every operation builds a fresh DataFrame through `GraftQuery.run` and
  * executes all of it with a `noop` write. Each set-up starts a session and
  * makes one untimed pass that writes every query's output, which warms the
  * session and is what `run.py` compares with the DuckDB twins.
  */
final class BatchWorkload(c: Config, queries: Seq[GraftQuery], openLoop: Boolean) {
  private val errors = scala.collection.mutable.LinkedHashMap[String, String]()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def exec(spark: SparkSession, q: GraftQuery, op: String,
      tracer: Option[Tracer], sink: DataFrame => Unit = noop): Boolean = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, op)
    try {
      graft.core.CacheScope.scoped {
        // Datasets are analyzed when built (Dataset.ofRows), so this span
        // holds the analysis of every Dataset the builder makes; the traced
        // catalyst.analysis phase is only that of the write command over the
        // already-resolved plan.
        val b0 = Clock.now
        val df = q.run(spark, c.data)
        tracer.foreach { tr =>
          tr.span(op, "queries.build", q.name, b0, Clock.now)
          tr.register(df.queryExecution.analyzed, op)
        }
        sink(df)
      }
      true
    } catch {
      case NonFatal(e) =>
        errors.synchronized(errors.getOrElseUpdate(q.name, String.valueOf(e.getMessage).take(300)))
        false
    } finally sc.setLocalProperty(Tracer.OpKey, null)
  }

  def run(): Map[String, Any] = {
    var spark: SparkSession = null
    val verifyDir = s"${c.work}/verify"
    val setupS = (0 until c.setups).map { _ =>
      if (spark != null) spark.stop()
      val t = Clock.now
      spark = Session.start(c)
      graft.core.Tables.names.foreach(graft.core.Tables(spark, c.data, _))
      queries.foreach { q =>
        exec(spark, q, "setup", None,
          _.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${q.name}"))
      }
      Clock.now - t
    }
    val warmErrors = errors.toMap
    val sections = Config.sections(c.trace).map { traced =>
      val tracer = if (traced) Some(new Tracer(spark, c.cores)) else None
      tracer.foreach(_.attach())
      val body = if (openLoop) openLoopSection(spark, tracer) else closedLoopSection(spark, tracer)
      body ++ Map("traced" -> traced, "trace" -> tracer.map(_.detach()))
    }
    spark.stop()
    Map(
      "setup_s" -> setupS,
      "queries" -> queries.map(_.name),
      "sections" -> sections,
      "warm_errors" -> warmErrors,
      "errors" -> errors.toMap,
      "verify" -> Map("dir" -> verifyDir,
        "oracle" -> queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
  }

  /** Rows: [query index, rung, due, start, end, ok]; backlog samples
    * [time, requests due but not started] at each dispatch.
    */
  private def openLoopSection(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any] = {
    // queries are drawn in seeded permutations of the whole list, so every
    // query is asked for equally often and the mix does not vary by seed
    val rng = scala.util.Random.javaRandomToRandom(new java.util.Random(c.seed))
    val draws = Iterator.continually(rng.shuffle(queries.indices.toVector)).flatten
    val start = Clock.now + 0.2
    var t = start
    val plan = ArrayBuffer.empty[(Int, Int, Double)]
    c.ladder.zipWithIndex.foreach { case ((rate, secs), r) =>
      val n = math.round(rate * secs).toInt
      (0 until n).foreach(k => plan += ((draws.next(), r, t + k / rate)))
      t += secs
    }
    val pool = Executors.newFixedThreadPool(c.cores)
    val rows = new Array[Array[Double]](plan.size)
    val started = new AtomicInteger(0)
    val backlog = ArrayBuffer.empty[Array[Double]]
    var lagMax = 0.0
    plan.zipWithIndex.foreach { case ((qi, rung, due), i) =>
      Clock.sleepUntil(due)
      val now = Clock.now
      lagMax = math.max(lagMax, now - due)
      backlog += Array(now, (i - started.get()).toDouble)
      pool.execute(() => {
        started.incrementAndGet()
        val s = Clock.now
        val ok = exec(spark, queries(qi), s"r$i", tracer)
        val e = Clock.now
        tracer.foreach { tr =>
          tr.span(s"r$i", "request", queries(qi).name, due, e)
          tr.span(s"r$i", "serve.queue", "queue", due, s)
        }
        rows(i) = Array(qi, rung, due, s, e, if (ok) 1 else 0)
      })
    }
    pool.shutdown()
    val drained = pool.awaitTermination(150, TimeUnit.SECONDS)
    if (!drained) pool.shutdownNow()
    Map("start" -> start, "rows" -> rows.toSeq.filter(_ != null), "planned" -> plan.size,
      "backlog" -> backlog.toSeq, "gen_lag_max" -> lagMax,
      "rungs" -> c.ladder.map { case (r, s) => Seq(r, s) })
  }

  /** Rows: [query index, pass, start, end, ok]. */
  private def closedLoopSection(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any] = {
    val start = Clock.now
    val rows = ArrayBuffer.empty[Array[Double]]
    var pass = 0
    while (pass < 2 || Clock.now - start < c.seconds) {
      val order = scala.util.Random.javaRandomToRandom(
        new java.util.Random(c.seed * 1000 + pass)).shuffle(queries.indices.toVector)
      order.foreach { qi =>
        val s = Clock.now
        val ok = exec(spark, queries(qi), s"p${pass}q$qi", tracer)
        val e = Clock.now
        tracer.foreach(_.span(s"p${pass}q$qi", "query", queries(qi).name, s, e))
        rows += Array(qi, pass, s, e, if (ok) 1 else 0)
      }
      pass += 1
    }
    Map("start" -> start, "rows" -> rows.toSeq, "passes" -> pass)
  }
}
