package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.RateSentenceSource
import graft.streaming.{Sentence, SentenceGen, WordCount, WordCountPipeline}

/** Every micro-batch's `StreamingQueryProgress`, as Spark reports it,
  * tagged with the benchmark's query run number. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  @volatile var run = 0
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(Map("run" -> run, "received_ms" -> System.currentTimeMillis(),
      "json" -> e.progress.json))

  def close(): Seq[Map[String, Any]] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(this)
    events.asScala.toSeq
  }
}

/** The latency-sampling sink: per micro-batch it collects the scheduled
  * emit times of the stamped sentences that reached it (one sample per
  * sentence, however many of its words arrive) with the arrival time. */
final class SampleSink(rec: Recorder) {
  @volatile var run = 0
  @volatile var parentSpan = 0
  val samples = new ConcurrentLinkedQueue[Seq[Long]]() // run, batch, emit ms, arrival ms
  val batches = new ConcurrentLinkedQueue[Seq[Any]]()  // run, batch, start ms, end ms

  def apply(ds: Dataset[WordCount], batchId: Long): Unit = {
    import ds.sparkSession.implicits._
    val start = System.currentTimeMillis()
    val stamps = ds.filter(_.ts != -1L).map(_.ts).collect()
    val now = System.currentTimeMillis()
    stamps.distinct.foreach(t => samples.add(Seq(run.toLong, batchId, t, now)))
    batches.add(Seq(run, batchId, start, now))
    rec.add("sink", s"batch-$batchId", start.toDouble, now.toDouble, parentSpan)
  }
}

/** Shared pieces of the two word-count workloads: the reference job's
  * wiring as `StatefulWordCount` builds it (repartition → tokenize →
  * statefulCounts → foreachBatch sink) and the exactly-once checks. */
object WordCountJob {
  val SentenceSize = 100
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val Hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def start(b: Bench, sentences: Dataset[Sentence], sink: SampleSink, ckpt: String,
            trigger: Trigger, name: String): StreamingQuery =
    WordCountPipeline.statefulCounts(
        WordCountPipeline.tokenize(sentences.repartition(b.cores)))
      .writeStream
      .outputMode("append")
      .foreachBatch((ds: Dataset[WordCount], id: Long) => sink(ds, id))
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .queryName(name)
      .start()

  /** the untimed warm-up: the same transforms over a small batch input */
  def warm(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    val dictBc = spark.sparkContext.broadcast(SentenceGen.dictionary())
    val size = SentenceSize
    val sentences = spark.range(0, 4000, 1, b.cores).map { i =>
      Sentence(if (i % 10 == 0) i else -1L, SentenceGen.sentenceAt(i, dictBc.value, size), 0)
    }
    WordCountPipeline.statefulCounts(WordCountPipeline.tokenize(sentences.repartition(b.cores)))
      .filter(_.ts != -1L).count()
  }

  /** per-word state of the query's operator 0 at its last committed
    * batch: (keys, total count, xor of (word, count) hashes) */
  def stateDigest(spark: SparkSession, ckpt: String): (Long, Long, Long) = {
    val r = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.value AS word", "value.groupState.value AS cnt")
      .selectExpr("COUNT(*)", "COALESCE(SUM(cnt), 0)",
        "COALESCE(BIT_XOR(XXHASH64(word, cnt)), 0)")
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** the same digest recomputed from the generator over sentences
    * [0, end), tokenized independently of the pipeline */
  def expectedDigest(b: Bench, end: Long): (Long, Long, Long) = {
    val spark = b.spark
    import spark.implicits._
    val dictBc = spark.sparkContext.broadcast(SentenceGen.dictionary())
    val size = SentenceSize
    val r = spark.range(0, end, 1, b.cores)
      .flatMap(i => SentenceGen.sentenceAt(i, dictBc.value, size).split("\\W+").filter(_.nonEmpty))
      .groupBy("value").count()
      .selectExpr("COUNT(*)", "COALESCE(SUM(count), 0)",
        "COALESCE(BIT_XOR(XXHASH64(value, count)), 0)")
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def digestMap(d: (Long, Long, Long)): Map[String, Any] =
    Map("keys" -> d._1, "total" -> d._2, "xor" -> d._3)

  def waitUntil(deadlineMs: Long)(cond: => Boolean): Boolean = {
    while (!cond && System.currentTimeMillis() < deadlineMs) Thread.sleep(20)
    cond
  }

  private val OffsetNumber = "\"?offset\"?\\s*:\\s*(\\d+)".r

  /** sentences committed by the query's last finished batch */
  def committedEnd(q: StreamingQuery): Long =
    Option(q.lastProgress).map { p =>
      val off = p.sources.head.endOffset
      OffsetNumber.findFirstMatchIn(off).map(_.group(1).toLong).getOrElse(off.trim.toLong)
    }.getOrElse(0L)
}

/** Open loop: sentences paced by the wall clock at a fixed offered rate,
  * a 1 s trigger, HDFS-backed state; after the measured window the query
  * is stopped mid-batch and restarted on its checkpoint, so the downtime
  * backlog replays. */
object WcLatency extends Workload {
  import WordCountJob._

  val name = "wc-latency"
  val Rate = 1500           // sentences/s offered: batches take ~0.75 s of the 1 s trigger
  val SamplePeriod = 5      // every 5th sentence carries its emit time: 300 samples/s
  val TriggerMs = 1000L
  val WarmInCapMs = 30000L  // the warm-in ends when the stream is steady
  val DowntimeMs = 1000L
  val CatchupCapMs = 20000L

  def setup(b: Bench): Unit = warm(b)

  /** `RateSentenceSource.wallClockStream` with a fixed schedule origin,
    * so a restarted query resumes the same schedule and the rows due
    * while it was down arrive as backlog */
  private def sentences(b: Bench, startMs: Long): Dataset[Sentence] = {
    val spark = b.spark
    import spark.implicits._
    val dictBc = spark.sparkContext.broadcast(SentenceGen.dictionary())
    val (period, size, parts) = (SamplePeriod, SentenceSize, b.cores)
    spark.readStream.format("ms-rate")
      .option("rowsPerSecond", Rate.toLong)
      .option("numPartitions", parts.toLong)
      .option("startTimestampMs", startMs)
      .load()
      .as[(java.sql.Timestamp, Long)]
      .mapPartitions { it =>
        val dict = dictBc.value
        it.map { case (emitted, idx) =>
          Sentence(if (idx % period == 0) emitted.getTime else -1L,
            SentenceGen.sentenceAt(idx, dict, size), (idx % parts).toInt)
        }
      }
  }

  private def offsetAt(startMs: Long, t: Long): Long = (t - startMs) * Rate / 1000L

  /** a batch of a drained stream: at most 1.25 triggers' worth of rows,
    * finished within the trigger */
  private def steady(p: StreamingQueryProgress): Boolean =
    p.numInputRows <= Rate * TriggerMs * 5 / 4000 && p.durationMs.get("triggerExecution") < TriggerMs

  def run(b: Bench, seconds: Int): Map[String, Any] = {
    val spark = b.spark
    spark.conf.set(ProviderKey, Hdfs)
    val ckpt = b.freshDir("wc-latency-ckpt")
    val startMs = System.currentTimeMillis() + 200
    var windowStart = 0L
    var windowEnd = 0L
    val sink = new SampleSink(b.rec)
    val log = new ProgressLog(spark)
    val input = sentences(b, startMs)
    var failedQueries = 0
    def launch(run: Int): StreamingQuery = {
      sink.run = run; log.run = run; sink.parentSpan = b.rec.current
      start(b, input, sink, ckpt, Trigger.ProcessingTime(TriggerMs), s"$name-$run")
    }

    // run 1: warm-in until the start-up backlog has drained (a steady
    // batch past the first two), the measured window, then a stop in the
    // middle of a batch
    var windowCounters = Seq.empty[Map[String, Any]]
    var killMs = 0L
    val q1 = b.rec.span("streaming", "query-1") {
      val q = launch(1)
      waitUntil(System.currentTimeMillis() + WarmInCapMs)(
        !q.isActive || Option(q.lastProgress).exists(p => p.batchId >= 2 && steady(p)))
      windowStart = System.currentTimeMillis()
      windowEnd = windowStart + seconds * 1000L
      val c0 = b.rec.snapshot()
      val batch0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      waitUntil(windowEnd + 30000L)(!q.isActive || committedEnd(q) >= offsetAt(startMs, windowEnd))
      val c1 = b.rec.snapshot()
      val batch1 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      windowCounters = Seq(Map("first_batch" -> batch0, "last_batch" -> batch1,
        "counters" -> (c1 - c0).toMap))
      waitUntil(System.currentTimeMillis() + 3 * TriggerMs)(
        !q.isActive || (q.status.isTriggerActive && q.status.isDataAvailable))
      Thread.sleep(100)
      killMs = System.currentTimeMillis()
      if (!q.isActive) failedQueries += 1
      q.stop()
      q
    }
    val committedAtKill = committedEnd(q1)

    // downtime, then run 2 on the same checkpoint: replay and catch up
    Thread.sleep(math.max(0L, killMs + DowntimeMs - System.currentTimeMillis()))
    val restartMs = System.currentTimeMillis()
    val q2 = b.rec.span("streaming", "query-2") {
      val q = launch(2)
      // until the backlog has drained: two consecutive steady batches,
      // by which time latency is back to its pre-kill level (run.py
      // finds the catch-up point in the samples)
      waitUntil(restartMs + CatchupCapMs) {
        val last = q.recentProgress.filter(_.numInputRows > 0).takeRight(2)
        !q.isActive || (last.length == 2 && last.forall(steady))
      }
      if (!q.isActive) failedQueries += 1
      q.stop()
      q
    }
    val progress = log.close()

    // exactly-once: the state equals a recount of the committed input,
    // and every stamped sentence in it reached the sink
    val end = committedEnd(q2)
    val (state, expected) = b.rec.span("check", "exactly-once") {
      (stateDigest(spark, ckpt), expectedDigest(b, end))
    }
    val delivered = sink.samples.asScala.map(_(2)).toSet
    val stamped = (0L until end by SamplePeriod.toLong).map(i => startMs + i * 1000L / Rate)
    val missing = stamped.count(t => !delivered.contains(t))
    Map(
      "params" -> Map("rate" -> Rate, "sentence_size" -> SentenceSize,
        "sample_period" -> SamplePeriod, "trigger_ms" -> TriggerMs,
        "start_ms" -> startMs, "window_start_ms" -> windowStart,
        "window_end_ms" -> windowEnd, "kill_ms" -> killMs,
        "restart_ms" -> restartMs, "downtime_ms" -> DowntimeMs),
      "kill" -> Map("committed_at_kill" -> committedAtKill,
        "due_at_restart" -> offsetAt(startMs, restartMs)),
      "samples" -> sink.samples.asScala.toSeq,
      "sink_batches" -> sink.batches.asScala.toSeq,
      "progress" -> progress,
      "window_counters" -> windowCounters,
      "check" -> Map("committed_sentences" -> end, "state" -> digestMap(state),
        "expected" -> digestMap(expected), "stamped" -> stamped.size,
        "stamped_missing" -> missing),
      "correct" -> (state == expected && missing == 0 && end > 0),
      "attempted" -> (stamped.size + 2),
      "failed" -> (missing + failedQueries))
  }
}

/** Closed loop: large fixed batches from the deterministic
  * `RateSentenceSource.stream`, triggered back to back, RocksDB state. */
object WcThroughput extends Workload {
  import WordCountJob._

  val name = "wc-throughput"
  val SentencesPerCore = 5000 // per micro-batch: 2 M words on 4 cores
  val BriefSentencesPerCore = 2500

  def setup(b: Bench): Unit = warm(b)

  def run(b: Bench, seconds: Int): Map[String, Any] = {
    val spark = b.spark
    spark.conf.set(ProviderKey, RocksDb)
    val ckpt = b.freshDir("wc-throughput-ckpt")
    val sink = new SampleSink(b.rec)
    val log = new ProgressLog(spark)
    val batchSentences = (if (b.brief) BriefSentencesPerCore else SentencesPerCore) * b.cores
    val input = RateSentenceSource.stream(spark, rate = batchSentences,
      sentenceSize = SentenceSize, numPartitions = b.cores, startTimestampMs = 0L)
    // measured batches need warm JIT and a full state: two warm-in
    // batches, then at least three in the window (one and one if brief)
    val (warmIn, minWindow) = if (b.brief) (1, 1) else (2, 3)
    var windowCounters = Seq.empty[Map[String, Any]]
    var failedQueries = 0
    val q = b.rec.span("streaming", "query-1") {
      sink.run = 1; log.run = 1; sink.parentSpan = b.rec.current
      val q = start(b, input, sink, ckpt, Trigger.ProcessingTime(0L), name)
      waitUntil(System.currentTimeMillis() + 120000L)(
        !q.isActive || Option(q.lastProgress).exists(_.batchId >= warmIn - 1))
      val c0 = b.rec.snapshot()
      val batch0 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      // the window: `seconds`, extended until it holds minWindow batches
      val end = System.currentTimeMillis() + seconds * 1000L
      waitUntil(end + 120000L)(!q.isActive || (System.currentTimeMillis() >= end &&
        Option(q.lastProgress).exists(_.batchId >= batch0 + minWindow)))
      val c1 = b.rec.snapshot()
      val batch1 = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      windowCounters = Seq(Map("first_batch" -> batch0, "last_batch" -> batch1,
        "counters" -> (c1 - c0).toMap))
      if (!q.isActive) failedQueries += 1
      q.stop()
      q
    }
    val progress = log.close()
    val end = committedEnd(q)
    val (state, expected) = b.rec.span("check", "state-total") {
      (stateDigest(spark, ckpt), expectedDigest(b, end))
    }
    val batches = progress.size
    Map(
      "params" -> Map("batch_sentences" -> batchSentences, "sentence_size" -> SentenceSize,
        "warm_in_batches" -> warmIn),
      "sink_batches" -> sink.batches.asScala.toSeq,
      "progress" -> progress,
      "window_counters" -> windowCounters,
      "check" -> Map("committed_sentences" -> end, "state" -> digestMap(state),
        "expected" -> digestMap(expected)),
      "correct" -> (state == expected && end > 0),
      "attempted" -> (batches + 1),
      "failed" -> failedQueries)
  }
}
