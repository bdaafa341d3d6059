package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.VesselMerge

/** ais-stream: jsonais lines pushed over one loopback TCP connection into
  * `graft-socket` → `Jsonais.canonicalizeDf` → `VesselMerge.vesselTable`
  * (6 h TTL) → a `foreachBatch` sink.
  *
  * The lines and their order come from `run.py`'s generator: a pre-fill
  * (one report per vessel, sent as fast as the engine takes it during
  * set-up) then one block of timed lines per section, pushed along the
  * ladder's fixed rates. Each line's latency runs from its due time to the
  * commit of the micro-batch that holds it; commits are read from the
  * query's progress events. At the end the live state is read back with
  * the `statestore` data source for `run.py` to compare with the
  * generator's own fold.
  */
final class AisWorkload(c: Config) {
  /** The generator's write interval, seconds. */
  private val Tick = 0.005

  private val lines: Array[String] =
    Files.readAllLines(Paths.get(c.get("lines").toString), StandardCharsets.UTF_8).asScala.toArray
  private val prefill = c.get("prefill").asInstanceOf[Number].intValue
  private val delay = c.get("watermark_delay").toString
  private val ttlMs = c.get("ttl_ms").asInstanceOf[Number].longValue
  private val finalWatermarkMs = c.get("final_watermark_ms").asInstanceOf[Number].longValue

  /** One incarnation of the stream: session, server socket, query. */
  private final class Stream(val spark: SparkSession, dir: String) {
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    server.setSoTimeout(60000)
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var committed = 0L
    @volatile var watermarkMs = 0L
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = Clock.now
        val p = e.progress
        val src = p.sources.headOption
        def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)
        val end = src.map(s => off(s.endOffset)).getOrElse(0L)
        val wm = Option(p.eventTime.get("watermark"))
          .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
        val st = p.stateOperators.headOption
        // the batch's commit on the engine's own clock: its trigger start
        // plus the trigger's duration (progress events reach listeners
        // asynchronously, so `now` can lag it)
        val committedAt = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).longValue)
        progress.add(Map(
          "t" -> committedAt, "received" -> now, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "start" -> src.map(s => off(s.startOffset)).getOrElse(0L), "end" -> end,
          "latest" -> src.map(s => off(s.latestOffset)).getOrElse(0L),
          "watermark_ms" -> wm,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state" -> st.map(s => Map(
            "rows" -> s.numRowsTotal, "updated" -> s.numRowsUpdated,
            "removed" -> s.numRowsRemoved, "mem_bytes" -> s.memoryUsedBytes,
            "update_ms" -> s.allUpdatesTimeMs, "commit_ms" -> s.commitTimeMs)).orNull))
        committed = math.max(committed, end)
        watermarkMs = math.max(watermarkMs, wm)
      }
    }
    spark.streams.addListener(listener)
    /** [completion time, executor CPU seconds] per finished stage. */
    val stageCpu = new ConcurrentLinkedQueue[Seq[Double]]()
    private val cpuListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        for (f <- si.completionTime; m <- Option(si.taskMetrics))
          stageCpu.add(Seq(Clock.fromEpochMs(f), m.executorCpuTime / 1e9))
      }
    }
    spark.sparkContext.addSparkListener(cpuListener)
    val checkpoint = s"$dir/checkpoint"

    val query: StreamingQuery = {
      import spark.implicits._
      val raw = spark.readStream.format("graft-socket")
        .option("host", "127.0.0.1").option("port", server.getLocalPort.toString).load()
      val obs = graft.ingest.Jsonais.canonicalizeDf(raw, col("line"), "c", Seq("line"))
        .where(col("c").isNotNull && col("c.ts_sec").isNotNull)
        .select(col("c.mmsi").as("mmsi"), (col("c.ts_sec") * 1000000L).as("ts"),
          lit("ais").as("source"), lit(null).cast("string").as("name"),
          lit(null).cast("int").as("shipType"), lit(null).cast("long").as("imo"),
          lit(null).cast("string").as("callsign"), lit(null).cast("string").as("destination"),
          lit(null).cast("double").as("draught"), col("c.lat").as("lat"), col("c.lon").as("lon"))
        .as[VesselMerge.VesselObs]
      VesselMerge.vesselTable(obs, Some(ttlMs * 1000L), delay)
        .writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch((ds: Dataset[VesselMerge.VesselState], _: Long) =>
          ds.write.format("noop").mode("overwrite").save())
        .start()
    }
    val socket: Socket = server.accept()
    val out = new BufferedWriter(
      new OutputStreamWriter(socket.getOutputStream, StandardCharsets.UTF_8), 1 << 16)

    def send(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) { out.write(lines(i)); out.write('\n'); i += 1 }
      out.flush()
    }

    def awaitCommitted(n: Long, watermark: Long, timeoutS: Double): Boolean = {
      val deadline = Clock.now + timeoutS
      while ((committed < n || watermarkMs < watermark) && Clock.now < deadline) Thread.sleep(5)
      committed >= n && watermarkMs >= watermark
    }

    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(listener)
      spark.sparkContext.removeSparkListener(cpuListener)
      socket.close(); server.close()
    }
  }

  def run(): Map[String, Any] = {
    var stream: Stream = null
    val setupS = (0 until c.setups).map { i =>
      if (stream != null) { stream.stop(); stream.spark.stop() }
      val t = Clock.now
      val dir = s"${c.work}/stream$i"
      stream = new Stream(Session.start(c), dir)
      stream.send(0, prefill)
      require(stream.awaitCommitted(prefill, 0L, 120), "pre-fill was not committed")
      Clock.now - t
    }
    val s = stream
    val pattern = Config.sections(c.trace)
    val nSections = pattern.size
    val perSection = c.ladder.map { case (r, secs) => math.round(r * secs).toInt }.sum
    require(lines.length == prefill + nSections * perSection,
      s"line script has ${lines.length} lines, expected ${prefill + nSections * perSection}")
    var next = prefill
    val sections = (0 until nSections).map { sec =>
      val traced = pattern(sec)
      val tracer = if (traced) Some(new Tracer(s.spark, c.cores)) else None
      tracer.foreach(_.attach())
      val start = Clock.now + 0.2
      var t = start
      val rungs = ArrayBuffer.empty[Seq[Double]]
      val sent = ArrayBuffer.empty[Array[Double]]
      var lagMax = 0.0
      c.ladder.foreach { case (rate, secs) =>
        val n = math.round(rate * secs).toInt
        val first = next
        rungs += Seq(rate, secs, t, first, n)
        var k = 0
        while (k < n) {
          val due = t + k / rate
          // everything due by now goes out in one write, at most one write
          // per tick: a write per line would keep a core spinning
          val wait = math.max(due, Clock.now + Tick) - Clock.now
          if (wait > 0) Thread.sleep(math.ceil(wait * 1000).toLong)
          val now = Clock.now
          lagMax = math.max(lagMax, now - due)
          val upto = math.min(n, math.floor((now - t) * rate).toInt + 1)
          s.send(first + k, first + upto)
          k = upto
          sent += Array(Clock.now, (first + k).toDouble)
        }
        next += n
        t += secs
      }
      val endT = Clock.now
      val wm = if (sec == nSections - 1) finalWatermarkMs else 0L
      val drained = s.awaitCommitted(next, wm, 60)
      val info = Map("start" -> start, "end" -> endT, "rungs" -> rungs.toSeq,
        "sent" -> sent.toSeq, "gen_lag_max" -> lagMax, "drained" -> drained,
        "traced" -> traced)
      info ++ Map("trace" -> tracer.map(_.detach()).orNull)
    }
    val progress = s.progress.asScala.toSeq
    s.stop()
    val stageCpu = s.stageCpu.asScala.toSeq
    val statePath = s"${c.work}/state"
    s.spark.read.format("statestore").load(s.checkpoint)
      .select(col("value.groupState.*"))
      .write.mode("overwrite").parquet(statePath)
    val ingest = if (c.trace) ingestProbe(s.spark) else Map.empty[String, Any]
    s.spark.stop()
    Map("setup_s" -> setupS, "sections" -> sections, "progress" -> progress,
      "stage_cpu" -> stageCpu,
      "lines" -> lines.length, "prefill" -> prefill, "state_path" -> statePath,
      "ingest" -> ingest)
  }

  /** `Jsonais.canonicalizeDf` timed on a fixed batch of the generated lines,
    * plus the exact share of lines it turns into a canonical report.
    */
  private def ingestProbe(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val batch: DataFrame = lines.slice(prefill, prefill + 20000).toSeq.toDF("line")
      .repartition(c.cores).cache()
    batch.count()
    def canon = graft.ingest.Jsonais.canonicalizeDf(batch, col("line"), "c", Seq("line"))
    val times = (0 until 3).map { _ =>
      val t = Clock.now
      canon.write.format("noop").mode("overwrite").save()
      Clock.now - t
    }
    val ok = canon.where(col("c").isNotNull && col("c.ts_sec").isNotNull).count()
    val n = batch.count()
    batch.unpersist()
    Map("canonicalize_s" -> times.sorted.apply(1), "canonical_frac" -> ok.toDouble / n,
      "lines" -> n)
  }
}
