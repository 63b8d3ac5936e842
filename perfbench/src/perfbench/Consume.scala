package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicReferenceArray}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col

import graft.config.QueueConfig
import graft.model.KinesisRecord
import graft.state.CheckpointStore
import graft.streaming.{DeliverySink, FileRecordSource, MessageHandler, QueueRuntime}

/** Compact metadata of every generated record, in stream order (see
  * [[Layout]]). Bodies are not kept, so the harness's own heap stays out
  * of `heap_peak_mb`. */
final class Feed(val gen: Gen, val layout: Layout) {
  val n: Int = layout.n
  val warmEnd: Int = layout.warm
  val backlogEnd: Int = layout.backlogEnd
  /** Exclusive end of each tail tick. */
  val tickEnds: Array[Int] =
    Array.tabulate(layout.ticks)(i => backlogEnd + (i + 1) * layout.tickRecords)
  val shard = new Array[Int](n)
  val counter = new Array[Long](n)
  val pass = new Array[Boolean](n)
  val bytes = new Array[Int](n)
  for (i <- 0 until n) {
    val r = gen.record(i, withBody = false)
    shard(i) = r.shard; counter(i) = r.counter; pass(i) = r.pass; bytes(i) = r.bytes
  }
  private val shardIndex = gen.shardNames.zipWithIndex.toMap
  private val byShard: Array[Array[Int]] =
    Array.tabulate(gen.shape.shards)(s => (0 until n).filter(shard(_) == s).toArray)
  private val byShardCtr: Array[Array[Long]] = byShard.map(_.map(counter))

  def shardOf(key: String): Int = shardIndex.getOrElse(key, -1)
  def seqOf(r: Int): String = gen.seq(shard(r), counter(r))

  /** Record index of sequence number `id` on shard `s`, or -1. */
  def recordOf(s: Int, id: String): Int =
    if (id.length != 56 || !id.startsWith(gen.prefixes(s))) -1
    else {
      val c = try java.lang.Long.parseLong(id, 22, 56, 10)
        catch { case _: NumberFormatException => -1L }
      val i = java.util.Arrays.binarySearch(byShardCtr(s), c)
      if (i >= 0) byShard(s)(i) else -1
    }

  /** Records of shard `s` before record `rec`. */
  def before(s: Int, rec: Int): Int = {
    val i = java.util.Arrays.binarySearch(byShard(s), rec)
    if (i >= 0) i else -i - 1
  }

  /** Records of shard `s` up to and including sequence `id`. */
  def committedOn(s: Int, id: Option[String]): Int = id match {
    case None => 0
    case Some(seq) =>
      val c = try java.lang.Long.parseLong(seq, 22, 56, 10)
        catch { case _: Exception => -1L }
      val i = java.util.Arrays.binarySearch(byShardCtr(s), c)
      if (i >= 0) i + 1 else -i - 1
  }

  /** Last sequence number of each shard among the records of `ranges`
    * ([from, until) pairs in stream order); None for a shard with no
    * record there. */
  def lastSeqs(ranges: Seq[(Int, Int)]): Array[Option[String]] = {
    val last = Array.fill(gen.shape.shards)(-1)
    for ((from, until) <- ranges; r <- from until until) last(shard(r)) = r
    last.map(r => if (r < 0) None else Some(seqOf(r)))
  }

  /** Tail tick of record `rec` (at or past `backlogEnd`). */
  def tickOf(rec: Int): Int = {
    val i = java.util.Arrays.binarySearch(tickEnds, rec)
    if (i >= 0) i + 1 else -i - 1
  }

  def mb(from: Int, until: Int): Double =
    (from until until).iterator.map(bytes(_).toLong).sum / 1048576.0
}

/** What the handler saw. Shared through this object because the handler
  * is serialized into every task. */
object HandlerLog {
  @volatile var feed: Feed = _
  @volatile var log: AtomicIntegerArray = new AtomicIntegerArray(0)
  val pos = new AtomicInteger(0)
  val overflow = new AtomicInteger(0)
  val disorder = new AtomicInteger(0)
  @volatile var last: AtomicReferenceArray[String] = new AtomicReferenceArray[String](0)

  def reset(f: Feed, capacity: Int): Unit = {
    feed = f
    log = new AtomicIntegerArray(capacity)
    pos.set(0); overflow.set(0); disorder.set(0)
    last = new AtomicReferenceArray[String](f.gen.shape.shards)
  }
}

/** The user handler the benchmark plugs into `HandlerDispatch`: it records
  * which record arrived and checks per-shard order, nothing else. */
object RecordingHandler extends MessageHandler {
  override def process(id: String, body: Array[Byte], text: String,
      key: String): Boolean = {
    val f = HandlerLog.feed
    val s = f.shardOf(key)
    val r = if (s < 0) -1 else f.recordOf(s, id)
    if (s >= 0) {
      val prev = HandlerLog.last.get(s)
      if (prev != null && !Seqs.less(prev, id)) HandlerLog.disorder.incrementAndGet()
      HandlerLog.last.set(s, id)
    }
    val p = HandlerLog.pos.getAndIncrement()
    if (p < HandlerLog.log.length) HandlerLog.log.set(p, r)
    else HandlerLog.overflow.incrementAndGet()
    true
  }
}

/** A `DeliverySink` around `HandlerDispatch` that times each batch. */
final class TimedSink(inner: DeliverySink, tracer: Tracer,
    onReturn: (Long, Long, Long, Int, Int) => Unit) extends DeliverySink {
  override def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val p0 = HandlerLog.pos.get
    val t0 = System.nanoTime()
    tracer.span("HandlerDispatch.applyBatch")(inner.applyBatch(batch, batchId))
    val t1 = System.nanoTime()
    onReturn(batchId, t0, t1, p0, HandlerLog.pos.get)
  }
}

/** One consume run: warm-up drains, set-up repetitions, then timed drains,
  * each followed by a third of the open-loop tail on the same query; output
  * checks after each query, untimed. */
final class Consume(spark: SparkSession, shape: Shape, seed: Long,
    seconds: Int, work: Path, tracer: Tracer, metrics: Option[SparkMetrics]) {
  private val SetupReps = 12
  /** Set-ups left out of `setup_s`: the set-up path's own code still
    * compiles over the first ones. */
  private val SetupWarm = 6
  private val Drains = 3
  private val WarmDrains = 2
  private val queue = QueueConfig("perfbench", QueueConfig.StartFromOldest,
    filters = shape.filters)
  private val batchLog = new BatchLog
  spark.streams.addListener(batchLog)

  private val born = System.nanoTime()
  /** A line on stderr, stamped with the seconds since this run began. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%6.1f s  $msg")

  // ---- inputs -----------------------------------------------------------
  private val tickRecords = shape.tailRecordsPerSec * Shapes.TickMs / 1000
  private val ticks = seconds * 1000 / Shapes.TickMs
  // each timed drain's query tails for a whole number of seconds: over
  // whole trigger periods, the phase of the 1 s trigger against the file
  // schedule does not move the latency figures
  require(seconds % Drains == 0, s"--seconds must be a multiple of $Drains")
  private val warmDir = work.resolve("warm")
  private val backlogDir = work.resolve("backlog")
  private val stageDir = work.resolve("tail-staged")

  private val gen = new Gen(shape, seed)
  private val layout = Layout(Shapes.WarmRecords, shape.backlogRecords, tickRecords, ticks)

  /** Records [from, until) as parquet files, generated in `parts` tasks,
    * each rolling to a new file every `perFile` records. */
  private def write(from: Int, until: Int, parts: Int, dir: Path,
      perFile: Int = 0): Unit = {
    val (g, l) = (gen, layout)
    val rows = spark.sparkContext.range(from, until, 1, parts).map { i =>
      val r = g.record(i.toInt, withBody = true)
      Row(r.body, g.shardNames(r.shard), g.seq(r.shard, r.counter),
        new java.sql.Timestamp(l.arrivalMs(i.toInt)), "None")
    }
    spark.createDataFrame(rows, KinesisRecord.schema).write
      .option("maxRecordsPerFile", perFile.toLong).parquet(dir.toString)
  }
  val feed: Feed = {
    val t0 = System.nanoTime()
    // concurrent jobs, so the writes' tasks fill every core; the metadata
    // is recomputed on this thread meanwhile
    val files = Future.sequence(Seq(
      Future(write(0, layout.warm, 1, warmDir)),
      Future(write(layout.warm, layout.backlogEnd, 8, backlogDir)),
      // one file per tick: ticks is a multiple of 4, so every task's range
      // is whole ticks and its files are consecutive ticks
      Future(write(layout.backlogEnd, layout.n, 4, stageDir, perFile = tickRecords))))
    val f = new Feed(gen, layout)
    Await.result(files, Duration.Inf)
    log(f"generated ${layout.n} records (${layout.backlog} backlog, " +
      f"${layout.n - layout.backlogEnd} tail in $ticks ticks) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    f
  }
  private val staged: Array[Path] = {
    // part-<task>-<job uuid>-c<file in task>.snappy.parquet
    val Name = "part-(\\d+)-.*-c(\\d+)\\..*".r
    val parts = Files.list(stageDir).iterator.asScala.flatMap { p =>
      p.getFileName.toString match {
        case Name(task, file) => Some((task.toInt, file.toInt) -> p)
        case _ => None
      }
    }.toArray.sortBy(_._1).map(_._2)
    require(parts.length == ticks, s"expected $ticks tail files, found ${parts.length}")
    parts
  }
  // only the parquet part files are the stream; Spark's own markers go
  Files.list(backlogDir).iterator.asScala
    .filterNot(_.getFileName.toString.startsWith("part-")).foreach(Files.delete)
  Files.list(warmDir).iterator.asScala
    .filterNot(_.getFileName.toString.startsWith("part-")).foreach(Files.delete)
  private val backlogFiles: Array[Path] = Files.list(backlogDir).iterator.asScala.toArray
  private val backlog = Seq((layout.warm, layout.backlogEnd))
  /** Where each tail tick's file went, once moved. */
  private val tailFiles = new Array[Path](ticks)
  private val dueNs = new Array[Long](ticks)
  private val lateMs = new Array[Double](ticks)
  private var backlogMax = 0

  // ---- one query --------------------------------------------------------
  private final class Run(val name: String, val dir: Path, target: Array[Option[String]]) {
    val store = new CheckpointStore()
    val rt = new QueueRuntime(spark, queue, store, name)
    val rets = new java.util.concurrent.ConcurrentLinkedQueue[BatchRet]()
    val reached = new CountDownLatch(1)
    @volatile var doneNs = 0L
    /** Committed records from record `since` on (see `tail`). */
    @volatile var since = 0
    @volatile var committed = 0
    @volatile var saves = 0
    @volatile var goal: Array[Option[String]] = target
    @volatile var goalLatch = reached
    private var lastSnap = Map.empty[String, java.time.Instant]
    val sink = new TimedSink(new rt.HandlerDispatch(RecordingHandler), tracer,
      (id, t0, t1, p0, p1) => {
        rets.add(BatchRet(id, t0, t1, p0, p1))
        val cps = tracer.span("CheckpointStore.getCheckpoint") {
          feed.gen.shardNames.map(k => store.getCheckpoint(queue.streamName, name, k))
        }
        committed = cps.indices.map(s =>
          math.max(0, feed.committedOn(s, cps(s)) - feed.before(s, since))).sum
        val snap = store.snapshot.map { case (k, c) => k -> c.lastProcessedTimestamp.orNull }
        saves += snap.count { case (k, t) => !lastSnap.get(k).contains(t) }
        lastSnap = snap
        if (doneNs == 0 && goal.indices.forall(s => goal(s) == cps(s))) {
          doneNs = t1
          goalLatch.countDown()
        }
      })
    var query: org.apache.spark.sql.streaming.StreamingQuery = _
    def start(): Unit = query = tracer.span("QueueRuntime.start") {
      rt.start(new FileRecordSource(dir.toString), sink,
        work.resolve(s"ckpt-$name").toString)
    }
    def await(latch: CountDownLatch, timeoutS: Int): Boolean =
      latch.await(timeoutS.toLong, TimeUnit.SECONDS)
    def stop(): Unit = tracer.span("QueueRuntime.stop")(rt.stop())
    def checkpoints: Array[Option[String]] = tracer.span("CheckpointStore.getCheckpoint") {
      feed.gen.shardNames.map(k => store.getCheckpoint(queue.streamName, name, k))
    }
  }

  /** Output checks over the records of `ranges`, which one query was
    * fed: each is delivered once if the independent predicate passes it
    * and not at all otherwise; shards saw strictly increasing sequence
    * numbers; each shard's final checkpoint is its last generated
    * sequence number. Returns the number of failures. */
  private def check(run: Run, ranges: Seq[(Int, Int)], tag: String): Int = {
    val fed = new Array[Boolean](feed.n)
    for ((from, until) <- ranges; r <- from until until) fed(r) = true
    val seen = new Array[Int](feed.n)
    var unknown = 0
    val n = math.min(HandlerLog.pos.get, HandlerLog.log.length)
    for (p <- 0 until n) {
      val r = HandlerLog.log.get(p)
      if (r < 0 || !fed(r)) unknown += 1 else seen(r) += 1
    }
    var wrong = 0
    var expectFiltered = 0
    for ((from, until) <- ranges; r <- from until until) {
      val want = if (feed.pass(r)) 1 else 0
      if (seen(r) != want) wrong += 1
      if (!feed.pass(r)) expectFiltered += 1
    }
    val filteredOff = math.abs(run.rt.filteredCount - expectFiltered).toInt
    val want = feed.lastSeqs(ranges)
    val cps = run.checkpoints
    val badCkpt = cps.indices.count(s => cps(s) != want(s))
    val fails = wrong + unknown + HandlerLog.overflow.get + HandlerLog.disorder.get +
      badCkpt + filteredOff
    log(s"check $tag: records=${ranges.map { case (a, b) => b - a }.sum} wrong=$wrong " +
      s"unknown=$unknown order_violations=${HandlerLog.disorder.get} " +
      s"checkpoint_mismatch=$badCkpt filtered_count_off=$filteredOff")
    fails
  }

  // ---- the run ----------------------------------------------------------
  /** Drain the backlog with a fresh runtime, store, checkpoint and source
    * directory, which holds links to the backlog files (drains do not see
    * the warm-up records). Returns the query and its drain time in s. */
  private def drain(name: String): (Run, Double) = {
    HandlerLog.reset(feed, feed.n - feed.warmEnd + 64)
    val dir = Files.createDirectories(work.resolve(name))
    backlogFiles.foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    val r = new Run(name, dir, feed.lastSeqs(backlog))
    val t0 = System.nanoTime()
    r.start()
    if (!r.await(r.reached, 40)) log(s"$name did not finish in 40 s")
    val dt = ((if (r.doneNs > 0) r.doneNs else System.nanoTime()) - t0) / 1e9
    val mb = feed.mb(feed.warmEnd, feed.backlogEnd)
    log(f"$name: $mb%.1f MB in $dt%.3f s = ${mb / dt}%.1f MB/s")
    (r, dt)
  }

  /** The tail part of one timed drain's query: its batches, with handler
    * positions rebased to index `recs`, the records they delivered. */
  private final class TailSeg(val run: Run, val rets: Seq[BatchRet], val recs: Array[Int])

  /** Open-loop tail on the drained query `r`: the pre-built files of ticks
    * [a, b) move into its source on a fixed schedule, whatever the
    * consumer is doing. Waits until they are committed and returns the
    * tail batches with the records they delivered. */
  private def tail(r: Run, a: Int, b: Int): TailSeg = {
    val latch = new CountDownLatch(1)
    r.doneNs = 0
    r.goalLatch = latch
    r.goal = feed.lastSeqs(backlog :+ ((layout.tickStart(a), layout.tickStart(b))))
    r.since = layout.tickStart(a)
    r.committed = 0
    val startNs = System.nanoTime()
    val moveStart = startNs + 100000000L
    val mover = new Thread(() => {
      for (i <- a until b) {
        val due = moveStart + (i - a).toLong * Shapes.TickMs * 1000000L
        dueNs(i) = due
        var now = System.nanoTime()
        while (now < due) {
          Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
          now = System.nanoTime()
        }
        tailFiles(i) = r.dir.resolve(f"tail-$i%05d.parquet")
        Files.move(staged(i), tailFiles(i), StandardCopyOption.ATOMIC_MOVE)
        lateMs(i) = (System.nanoTime() - due) / 1e6
        backlogMax = math.max(backlogMax, feed.tickEnds(i) - r.since - r.committed)
      }
    }, "perfbench-tail")
    mover.setDaemon(true)
    mover.start()
    mover.join()
    if (!latch.await(60, TimeUnit.SECONDS))
      log(s"ticks $a-$b not all committed 60 s after the last file")
    // the handler log is reset by the next drain: keep the tail's part
    val rets = r.rets.asScala.toSeq.sortBy(_.id).filter(_.startNs > startNs)
    val base = rets.headOption.map(_.p0).getOrElse(0)
    val end = rets.lastOption.map(b => math.min(b.p1, HandlerLog.log.length)).getOrElse(0)
    new TailSeg(r, rets.map(b => b.copy(p0 = b.p0 - base,
        p1 = math.min(b.p1, HandlerLog.log.length) - base)),
      Array.tabulate(end - base)(i => HandlerLog.log.get(base + i)))
  }

  /** Commit latency of each tail record of `s`, from its due time to the
    * return of the batch that delivered it. */
  private def latencies(s: TailSeg): Array[Double] =
    Stats.commitLatencies(s.recs(_), s.rets.map(_.p0).toArray, s.rets.map(_.p1).toArray,
      s.rets.map(_.endNs).toArray,
      rec => if (rec >= feed.backlogEnd) dueNs(feed.tickOf(rec)) else Long.MinValue)

  def run(): Result = {
    val heap = new HeapWatch
    var attempted = 0L
    var failed = 0L
    val backlogMb = feed.mb(feed.warmEnd, feed.backlogEnd)

    // untimed warm-up drains: the first large batches pay JIT and codegen
    for (d <- 1 - WarmDrains to 0) {
      val (r, _) = drain(s"drain$d")
      r.stop()
      attempted += feed.backlogEnd - feed.warmEnd
      failed += check(r, backlog, s"drain$d")
    }

    // set-up: start a runtime on a small source and wait for its first
    // batch, several times, with the JIT already warm
    val setup = (1 to SetupReps).map { i =>
      HandlerLog.reset(feed, Shapes.WarmRecords + 16)
      val r = new Run(s"setup$i", warmDir, feed.lastSeqs(Seq((0, feed.warmEnd))))
      val t0 = System.nanoTime()
      r.start()
      if (!r.await(r.reached, 30)) log(s"set-up $i did not finish in 30 s")
      val dt = (System.nanoTime() - t0) / 1e9
      r.stop()
      attempted += feed.warmEnd
      failed += check(r, Seq((0, feed.warmEnd)), s"setup$i")
      dt
    }
    log(s"setup_s samples (first $SetupWarm left out): ${setup.map(d => f"$d%.3f").mkString(" ")}")

    // timed drains, each followed by a third of the tail on the same query,
    // so that both figures sample the whole timed phase
    heap.start()
    val tPhase0 = System.nanoTime()
    var handlerCalls = 0L
    val drainSecs = mutable.ArrayBuffer.empty[Double]
    val segs = mutable.ArrayBuffer.empty[TailSeg]
    for (d <- 1 to Drains) {
      heap.cleanStart()
      val (r, dt) = drain(s"drain$d")
      drainSecs += dt
      heap.window()
      heap.cleanStart()
      val (a, b) = (ticks * (d - 1) / Drains, ticks * d / Drains)
      segs += tail(r, a, b)
      heap.window()
      r.stop()
      handlerCalls += HandlerLog.pos.get
      val fed = backlog :+ ((layout.tickStart(a), layout.tickStart(b)))
      attempted += fed.map { case (from, until) => until - from }.sum
      failed += check(r, fed, s"drain$d+ticks$a-$b")
    }
    val tPhase1 = System.nanoTime()
    heap.pause()
    log(s"heap peaks after GC by window (drain, tail, ...): ${heap.windowPeaksMb.map(m => f"$m%.0f").mkString(" ")} MB")

    val lats = segs.map(latencies).toSeq
    segs.zip(lats).foreach { case (s, lat) =>
      log(s"tail on ${s.run.name}: ${s.rets.size} batches, applyBatch ms " +
        s.rets.map(b => (b.endNs - b.startNs) / 1000000).mkString(" ") +
        f", ${lat.length} latency samples, p50 ${Stats.percentile(lat, 50)}%.0f ms")
    }
    val expected = (feed.backlogEnd until feed.n).count(feed.pass)
    log(s"commit latency: ${lats.map(_.length).sum} samples (expected $expected)")
    def latency(q: Double) =
      if (lats.exists(_.isEmpty)) Double.NaN else Stats.median(lats.map(Stats.percentile(_, q)))

    val e2e = Map(
      "setup_s" -> Stats.median(setup.drop(SetupWarm)),
      "drain_mb_s" -> Stats.median(drainSecs.map(backlogMb / _).toSeq),
      "commit_p50_ms" -> latency(50),
      "commit_p99_ms" -> latency(99),
      "heap_peak_mb" -> heap.windowPeaksMb.max)

    val layers: Map[String, Double] = metrics match {
      case None => Map.empty
      case Some(m) =>
        m.settle()
        layerMetrics(m, segs.toSeq, heap, tPhase0, tPhase1, handlerCalls)
    }
    heap.close()
    Result(attempted, failed, e2e, layers,
      Map("commit_samples" -> lats.map(_.length).sum.toDouble,
        "tail_records" -> (feed.n - feed.backlogEnd).toDouble,
        "backlog_mb" -> backlogMb, "tail_mb_s" -> feed.mb(feed.backlogEnd, feed.n) / seconds))
  }

  /** Per-layer figures. Dispatch, executor and JVM figures cover the timed
    * phase (the timed drains and the tail); batch and lag figures the tail
    * batches; checkpoint figures the three drain+tail queries. */
  private def layerMetrics(m: SparkMetrics, segs: Seq[TailSeg], heap: HeapWatch,
      phase0: Long, phase1: Long, handlerCalls: Long): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    // micro-batches of the tail
    val bs = segs.flatMap { s =>
      val ids = s.rets.map(_.id).toSet
      batchLog.of(s.run.query.runId).filter(b => ids(b.id))
    }
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    out("batch.n") = bs.size
    out("batch.rows_p50") = med(bs.map(_.rows.toDouble))
    out("batch.latest_offset_ms") = med(dur("latestOffset"))
    out("batch.get_batch_ms") = med(dur("getBatch"))
    out("batch.query_planning_ms") = med(dur("queryPlanning"))
    out("batch.wal_commit_ms") = med(dur("walCommit"))
    out("batch.commit_offsets_ms") = med(dur("commitOffsets"))
    out("batch.add_batch_ms_p99") =
      if (bs.isEmpty) Double.NaN else Stats.percentile(dur("addBatch").toArray, 99)
    // lag behind the stream head: trigger start minus due time
    val wall0 = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val lags = segs.flatMap { s =>
      val trig = batchLog.of(s.run.query.runId).map(b => b.id -> b.triggerMs).toMap
      s.rets.filter(b => trig.contains(b.id)).flatMap { b =>
        (b.p0 until b.p1).iterator.map(s.recs(_)).filter(_ >= feed.backlogEnd)
          .map(rec => (trig(b.id) - (wall0 + dueNs(feed.tickOf(rec)) / 1000000L)).toDouble)
      }
    }.toArray
    out("lag.p99_ms") = if (lags.isEmpty) Double.NaN else Stats.percentile(lags, 99)

    // dispatch: the jobs run under the harness's applyBatch spans
    val applySpans = tracer.spans.filter(s =>
      s.name == "HandlerDispatch.applyBatch" && s.start >= phase0 && s.end <= phase1)
    val applyIds = applySpans.map(_.id).toSet
    val djobs = m.jobsUnder(applyIds)
    val dstages = m.stagesOf(djobs)
    out("dispatch.apply_s") = applySpans.map(s => (s.end - s.start) / 1e9).sum
    out("dispatch.jobs") = djobs.size
    out("dispatch.task_s") = dstages.map(_.runNs).sum / 1e9
    out("dispatch.task_max_s") = (0L +: dstages.map(_.maxTaskNs)).max / 1e9
    out("dispatch.shuffle_write_mb") = dstages.map(_.shuffleWriteB).sum / 1048576.0
    out("dispatch.handler_calls") = handlerCalls.toDouble
    // the hottest key's share, over the last drain+tail query's deliveries
    val n = math.min(HandlerLog.pos.get, HandlerLog.log.length)
    val perShard = new Array[Int](feed.gen.shape.shards)
    for (p <- 0 until n) { val rec = HandlerLog.log.get(p); if (rec >= 0) perShard(feed.shard(rec)) += 1 }
    out("dispatch.hot_key_rows_frac") = if (n == 0) Double.NaN else perShard.max.toDouble / n

    // filters: pipelineWithVerdict in batch mode over the stream files,
    // and a decode-only projection of the same rows as its baseline
    out ++= filterLayer()

    // state
    out("checkpoint.saves") = segs.map(_.run.saves).sum
    out("checkpoint.keys") = segs.last.run.store.snapshot.size

    // executor and JVM over the timed phase
    val (ms0, ms1) = (m.toMs(phase0), m.toMs(phase1))
    val timed = m.stages.values.toSeq.filter(s => s.submitted >= ms0 && s.submitted <= ms1)
    out("exec.task_s") = timed.map(_.runNs).sum / 1e9
    out("exec.cpu_util") = timed.map(_.cpuNs).sum / 1e9 / ((phase1 - phase0) / 1e9 * Main.Cores)
    out("jvm.gc_s") = heap.gcSeconds

    // generator validity
    out("gen.late_p99_ms") = Stats.percentile(lateMs, 99)
    out("gen.backlog_max_rows") = backlogMax
    out.toMap
  }

  private def filterLayer(): Map[String, Double] = {
    val rt = new QueueRuntime(spark, queue, new CheckpointStore(), "filters")
    val records = spark.read.schema(KinesisRecord.schema)
      .parquet((backlogDir +: tailFiles.toSeq).map(_.toString): _*)
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val verdict = tracer.span("QueueRuntime.pipelineWithVerdict")(rt.pipelineWithVerdict(records))
    val decode = records.select(col("sequenceNumber"), col("data"),
      col("data").cast("string").as("messageText"), col("partitionKey"),
      col("approximateArrivalTimestamp"), col("encryptionType"))
    time(verdict); time(decode) // warm
    val reps = 5
    val ev = Stats.median((1 to reps).map(_ => tracer.span("filter.eval")(time(verdict))))
    val dc = Stats.median((1 to reps).map(_ => tracer.span("filter.decode")(time(decode))))
    val extractions = JsonExtractions(verdict.queryExecution.optimizedPlan)
    val passed = verdict.filter(col("__pass")).count().toDouble
    val total = verdict.count().toDouble
    Map("filter.eval_s" -> ev, "filter.decode_s" -> dc,
      "filter.json_extractions" -> extractions.toDouble,
      "filter.pass_frac" -> passed / total)
  }
}

/** `get_json_object` calls left in an optimized plan. Spark replaces the
  * expression with an evaluator invocation during optimization, so both
  * spellings are counted. */
object JsonExtractions {
  private val pattern = "get_json_object\\(|GetJsonObjectEvaluator".r
  def apply(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(e =>
      pattern.findAllMatchIn(e.toString).size).sum }.sum
}

/** One returned `applyBatch`: handler positions [p0, p1) were its records. */
final case class BatchRet(id: Long, startNs: Long, endNs: Long, p0: Int, p1: Int)

final case class Result(attempted: Long, failed: Long, e2e: Map[String, Double],
    layers: Map[String, Double], info: Map[String, Double])
