package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** A keyed event; `ts` is event time, `v` an integer-valued amount so
  * sums are exact whatever the batch boundaries. */
case class Ev(id: Long, ts: java.sql.Timestamp, k: Long, v: Double)
/** A changelog event: +I, or a -U/+U pair amending an earlier value. */
case class Cl(id: Long, kind: String, k: Long, v: Double)

/** The stream workload. Three pipelines run in turn, each first in an
  * open loop, where a generator thread feeds a MemoryStream on a fixed
  * tick whatever the engine is doing, then in a closed loop over fixed
  * pre-generated batches. Every open loop is checked against a batch
  * computation over the same events. */
object Stream {
  val Rate = 5000 // events per second per pipeline in the open loop
  val TickMs = 50
  val Keys = 10000
  val ClosedBatches = 3
  val ClosedRows = 30000
  val Pipelines = Seq("tumble_agg", "changelog_agg", "cep")

  val layerUnits: Seq[(String, String)] = Seq(
    "stream.batches" -> "count", "stream.rows_per_batch" -> "rows",
    "stream.trigger_p50_ms" -> "ms", "stream.trigger_tail_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.backlog_rows" -> "rows",
    "stream.generator_late_ms" -> "ms", "stream.out_in_ratio" -> "ratio",
    "state.rows_total" -> "rows", "state.rows_updated" -> "rows",
    "state.rows_removed" -> "rows", "state.memory_bytes" -> "bytes",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms",
    "state.removal_ms" -> "ms", "state.dropped_by_watermark" -> "rows")

  /** Zipf(1) over `Keys` keys. */
  final class Zipf(rng: scala.util.Random) {
    private val cdf = {
      val w = (1 to Keys).map(i => 1.0 / i).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def next(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      (if (i >= 0) i else -i - 1).toLong
    }
  }

  private val T0Micros = 1700000000000000L

  private def stamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  /** `n` keyed events from `first` on, 1/Rate s apart in event time,
    * each shifted back by up to `disorderMs` (inside the watermark). */
  def events(rng: scala.util.Random, first: Long, n: Int, disorderMs: Int): Seq[Ev] = {
    val zipf = new Zipf(rng)
    (0 until n).map { i =>
      val id = first + i
      val late = if (disorderMs > 0) rng.nextInt(disorderMs * 1000).toLong else 0L
      Ev(id, stamp(T0Micros + id * (1000000L / Rate) - late), zipf.next(),
        (rng.nextInt(97)).toDouble)
    }
  }

  /** Changelog rows: mostly +I; one in five draws amends a live value
    * of its key with an adjacent -U/+U pair. */
  final class ChangelogGen(rng: scala.util.Random) {
    private val zipf = new Zipf(rng)
    private val live = mutable.Map.empty[Long, List[Double]]
    private var id = 0L
    def chunk(rows: Int): Seq[Cl] = {
      val out = mutable.ArrayBuffer.empty[Cl]
      while (out.size < rows) {
        val k = zipf.next()
        val v = (1 + rng.nextInt(100)).toDouble
        live.getOrElse(k, Nil) match {
          case old :: rest if rng.nextInt(5) == 0 =>
            out += Cl(id, graft.streaming.StreamOps.UpdateBefore, k, old)
            out += Cl(id + 1, graft.streaming.StreamOps.UpdateAfter, k, v)
            live(k) = v :: rest
            id += 2
          case vs =>
            out += Cl(id, graft.streaming.StreamOps.Insert, k, v)
            live(k) = v :: vs
            id += 1
        }
      }
      out.toSeq
    }
  }

  /** The driver-side result a pipeline's sink folds its output into. */
  final class Sink(fold: (mutable.Map[Any, Any], Row) => Unit) {
    val state = mutable.Map.empty[Any, Any]
    var rowsOut = 0L
    val fn: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      synchronized { rows.foreach(fold(state, _)); rowsOut += rows.length }
    }
    def snapshot: Map[Any, Any] = synchronized(state.toMap)
  }

  /** One pipeline: its plan, output mode, sink fold and batch oracle. */
  trait Pipeline[T] {
    def name: String
    def mode: String
    def plan(ds: Dataset[T]): DataFrame
    def fold(m: mutable.Map[Any, Any], r: Row): Unit
    def oracle(events: Dataset[T]): Map[Any, Any]
  }

  def run(spark: SparkSession, run: Main.Run, trace: Option[Trace]): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val args = run.args
    val openS = math.max(1.0, args.seconds / 4)
    val openChunks = math.ceil(openS * 1000 / TickMs).toInt
    val chunkRows = Rate * TickMs / 1000
    val tmp = System.getProperty("java.io.tmpdir")
    var queryNo = 0

    val tumble = new Pipeline[Ev] {
      val name = "tumble_agg"; val mode = "update"
      def plan(ds: Dataset[Ev]) = ds.withWatermark("ts", "2 seconds")
        .groupBy(window($"ts", "1 second"), $"k")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .select($"window.start".as("w"), $"k", $"n", $"sv")
      def fold(m: mutable.Map[Any, Any], r: Row) =
        m((r.getTimestamp(0), r.getLong(1))) = (r.getLong(2), r.getDouble(3))
      def oracle(ev: Dataset[Ev]) = ev.groupBy(window($"ts", "1 second"), $"k")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .select($"window.start", $"k", $"n", $"sv").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    }
    val changelog = new Pipeline[Cl] {
      val name = "changelog_agg"; val mode = "update"
      def plan(ds: Dataset[Cl]) = graft.streaming.ChangelogAgg
        .sumCount(ds)(_.k, _.kind, _.v)
        .map(u => (u.row_kind, u.key, u.sum, u.count)).toDF("kind", "k", "sum", "count")
      def fold(m: mutable.Map[Any, Any], r: Row) =
        if (r.getString(0) == graft.streaming.StreamOps.Delete) m.remove(r.getLong(1))
        else m(r.getLong(1)) = (r.getDouble(2), r.getLong(3))
      def oracle(ev: Dataset[Cl]) = {
        val sign = when($"kind" === graft.streaming.StreamOps.UpdateBefore, -1).otherwise(1)
        ev.groupBy($"k").agg(sum(sign * $"v").as("s"), sum(sign).cast("long").as("c"))
          .filter($"c" > 0).collect()
          .map(r => (r.getLong(0): Any) -> ((r.getDouble(1), r.getLong(2)): Any)).toMap
      }
    }
    val cep = new Pipeline[Ev] {
      val name = "cep"; val mode = "append"
      private val pattern = graft.streaming.Cep.Pattern
        .begin[Ev]("lo", _.v < 48).next("hi", _.v >= 48)
      def plan(ds: Dataset[Ev]) = graft.streaming.Cep.run(ds, pattern)(_.k, _.ts.getTime)
        .map(m => (m.key, m.steps("lo").head.id, m.steps("hi").head.id)).toDF("k", "lo", "hi")
      def fold(m: mutable.Map[Any, Any], r: Row) =
        m((r.getLong(0), r.getLong(1), r.getLong(2))) = true
      def oracle(ev: Dataset[Ev]) = {
        val w = Window.partitionBy($"k").orderBy($"ts", $"id")
        ev.select($"k", $"id", $"v", lag($"v", 1).over(w).as("pv"), lag($"id", 1).over(w).as("pid"))
          .filter($"v" >= 48 && $"pv" < 48).select($"k", $"pid", $"id").collect()
          .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)): Any) -> (true: Any)).toMap
      }
    }

    // ---- setup: generate every event, start each pipeline, warm it
    val rng = new scala.util.Random(args.seed)
    val clGen = new ChangelogGen(rng)
    final case class Fed[T](warm: Seq[T], open: IndexedSeq[Seq[T]], closedWarm: Seq[T],
        closed: IndexedSeq[Seq[T]])
    def evFeed(disorderMs: Int): Fed[Ev] = {
      var next = 0L
      def take(n: Int) = { val e = events(rng, next, n, disorderMs); next += n; e }
      Fed(take(chunkRows), (0 until openChunks).map(_ => take(chunkRows)),
        take(ClosedRows / 5), (0 until ClosedBatches).map(_ => take(ClosedRows)))
    }
    val tumbleFeed = evFeed(disorderMs = 400)
    val clFeed = Fed(clGen.chunk(chunkRows), (0 until openChunks).map(_ => clGen.chunk(chunkRows)),
      clGen.chunk(ClosedRows / 5), (0 until ClosedBatches).map(_ => clGen.chunk(ClosedRows)))
    // strictly increasing event time per key: CEP matches in arrival order
    val cepFeed = evFeed(disorderMs = 0)

    final class Live[T](val p: Pipeline[T], val fed: Fed[T], val in: MemoryStream[T],
        val sink: Sink, val q: org.apache.spark.sql.streaming.StreamingQuery)

    def start[T: org.apache.spark.sql.Encoder](p: Pipeline[T], fed: Fed[T], sample: String,
        warm: Seq[T]): Live[T] = {
      queryNo += 1
      val in = MemoryStream[T]
      val sink = new Sink(p.fold)
      val q = p.plan(in.toDS()).writeStream.outputMode(p.mode)
        .option("checkpointLocation", s"$tmp/checkpoint-$queryNo")
        .foreachBatch(sink.fn).start()
      trace.foreach(_.bindRun(q.runId.toString, sample))
      in.addData(warm)
      q.processAllAvailable()
      new Live(p, fed, in, sink, q)
    }

    def phaseSpan(id: String, name: String, e0: Double): Span = {
      val s = Span("sample", name, id, e0, Main.nowMs())
      trace.foreach(_.add(s))
      s
    }

    run.notes("generated_s") = f"${Main.sinceStartS}%.2f"
    val e0 = Main.nowMs()
    val liveTumble = start(tumble, tumbleFeed, "stream-setup", tumbleFeed.warm)
    val liveCl = start(changelog, clFeed, "stream-setup", clFeed.warm)
    val liveCep = start(cep, cepFeed, "stream-setup", cepFeed.warm)
    phaseSpan("stream-setup", "setup", e0)
    val setupS = Main.sinceStartS

    // ---- open loop: fixed-rate generator, per-chunk latency
    val medians, tails = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[(String, Span)]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Double]
    var openRowsIn, openRowsOut = 0L
    /** Per open loop: the query's run id and the micro-batches that read data. */
    val openBatches = mutable.ArrayBuffer.empty[(java.util.UUID, Set[Long])]
    val measureT0 = System.nanoTime()

    def openLoop[T](l: Live[T]): Unit = {
      val sample = s"stream-open-${l.p.name}"
      trace.foreach(_.bindRun(l.q.runId.toString, sample))
      val e0 = Main.nowMs()
      val outBefore = l.sink.synchronized(l.sink.rowsOut)
      val firstBatch = l.q.recentProgress.length
      val stamps = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Int)]()
      val exec = Executors.newSingleThreadScheduledExecutor()
      val done = new java.util.concurrent.CountDownLatch(openChunks)
      val startNs = System.nanoTime()
      val startMs = Main.nowMs()
      var tick = 0
      // a chunk is stamped with the time it was due, so a late generator
      // tick counts in its latency; the lateness itself is recorded too
      exec.scheduleAtFixedRate(() => {
        if (tick < openChunks) {
          val i = tick
          tick += 1
          lateMs.synchronized {
            lateMs += ((System.nanoTime() - startNs) / 1e6 - i * TickMs).max(0.0)
          }
          val off = l.in.addData(l.fed.open(i)).json().trim.toLong
          stamps.put(off, (startMs + i * TickMs, l.fed.open(i).size))
          done.countDown()
        }
      }, 0, TickMs, TimeUnit.MILLISECONDS)
      done.await()
      exec.shutdown()
      exec.awaitTermination(10, TimeUnit.SECONDS)
      l.q.processAllAvailable()
      phases += (l.p.name -> phaseSpan(sample, l.p.name, e0))
      openRowsIn += l.fed.open.map(_.size).sum
      openRowsOut += l.sink.synchronized(l.sink.rowsOut) - outBefore

      // a chunk's latency: its stamp to the end of the batch that read it
      val mine = mutable.ArrayBuffer.empty[Double]
      val batches = l.q.recentProgress.drop(firstBatch).toSeq.flatMap(p => offsets(p).map(p -> _))
      openBatches += (l.q.runId -> batches.map(_._1.batchId).toSet)
      batches.foreach { case (p, (from, to)) =>
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
          p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        val begin = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        var waiting = 0.0
        stamps.forEach { (off, st) =>
          if (off > from && off <= to) mine += end - st._1
          if (off > from && st._1 <= begin) waiting += st._2
        }
        backlog += waiting
        trace.foreach(_.add(Span("batch", s"batch ${p.batchId}", sample, begin, end,
          Trace.progressDurations(p) + ("input_rows" -> p.numInputRows.toDouble))))
      }
      val (tail, tailP, n) = Main.tail(mine.toSeq)
      medians += Layers.median(mine.toSeq)
      tails += tail
      run.notes(s"open.${l.p.name}") = f"${batches.size} batches, chunk latency p50 " +
        f"${Layers.median(mine.toSeq)}%.1f ms, p$tailP $tail%.1f ms of $n chunks"
    }

    def check[T: org.apache.spark.sql.Encoder](l: Live[T]): Unit = {
      val all = l.fed.warm ++ l.fed.open.flatten
      val want = l.p.oracle(spark.createDataset(all))
      val got = l.sink.snapshot
      val missing = want.count { case (k, v) => !got.get(k).contains(v) }
      val extra = got.keySet.diff(want.keySet).size
      if (missing + extra > 0)
        run.fail(s"stream/${l.p.name}",
          s"$missing of ${want.size} expected results missing or wrong, $extra unexpected")
    }
    def guarded(op: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          run.fail(op, (e.getClass.getSimpleName + ": " + e.getMessage).take(300))
      }
    guarded("stream/tumble_agg") { run.attempt(); openLoop(liveTumble); liveTumble.q.stop(); check(liveTumble) }
    guarded("stream/changelog_agg") { run.attempt(); openLoop(liveCl); liveCl.q.stop(); check(liveCl) }
    guarded("stream/cep") { run.attempt(); openLoop(liveCep); liveCep.q.stop(); check(liveCep) }

    // ---- closed loop: fixed batches, back to back, fresh queries
    var closedRows = 0L
    var closedWallS = 0.0
    def closedLoop[T: org.apache.spark.sql.Encoder](p: Pipeline[T], fed: Fed[T]): Unit = {
      val sample = s"stream-closed-${p.name}"
      val e0 = Main.nowMs()
      val l = start(p, fed, sample, fed.closedWarm)
      val t0 = System.nanoTime()
      fed.closed.foreach { rows => l.in.addData(rows); l.q.processAllAvailable() }
      val wall = (System.nanoTime() - t0) / 1e9
      closedWallS += wall
      closedRows += fed.closed.map(_.size).sum
      run.notes(s"closed.${p.name}") = f"${fed.closed.map(_.size).sum / wall}%.1f rows/s"
      l.q.stop()
      phases += (s"${p.name}/closed" -> phaseSpan(sample, p.name, e0))
    }
    guarded("stream/tumble_agg/closed") { run.attempt(); closedLoop(tumble, tumbleFeed) }
    guarded("stream/changelog_agg/closed") { run.attempt(); closedLoop(changelog, clFeed) }
    guarded("stream/cep/closed") { run.attempt(); closedLoop(cep, cepFeed) }
    val measuredS = (System.nanoTime() - measureT0) / 1e9

    if (medians.isEmpty || closedWallS <= 0) sys.error("no stream phase completed")
    run.metrics("setup_s") = (setupS, "s")
    run.metrics("suite_s") = (closedWallS, "s")
    run.metrics("latency_p50_ms") = (Main.geomean(medians.toSeq), "ms")
    run.metrics("latency_tail_ms") = (Main.geomean(tails.toSeq), "ms")
    run.notes("stream_rows_per_s") = f"${closedRows / closedWallS}%.1f rows/s (closed loop, ${Pipelines.size} pipelines)"
    run.notes("offered_rate") = s"$Rate events/s per pipeline"
    run.notes("measured_s") = f"$measuredS%.2f"

    trace.foreach { t =>
      t.drain()
      run.perQuery = Layers.perQuery(t, phases.toSeq)
      Layers.common(run.perQuery, args.cores, 0.0).foreach { case (k, v, u) =>
        run.layers(k) = (v, u)
      }
      val progress = openBatches.toSeq.map { case (run, ids) => t.progressOf(run, ids) }
      val ps = progress.flatten
      def part(k: String) = if (ps.isEmpty) 0.0 else
        ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble).sum / ps.size
      val trig = ps.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
      val ops = ps.flatMap(_.stateOperators)
      val lastOps = progress.flatMap(_.sortBy(_.batchId).lastOption.toSeq.flatMap(_.stateOperators))
      val layer = Map[String, Double](
        "stream.batches" -> ps.size.toDouble,
        "stream.rows_per_batch" -> (if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).sum.toDouble / ps.size),
        "stream.trigger_p50_ms" -> Layers.median(trig),
        "stream.trigger_tail_ms" -> (if (trig.isEmpty) 0.0 else Main.tail(trig)._1),
        "stream.add_batch_ms" -> part("addBatch"),
        "stream.query_planning_ms" -> part("queryPlanning"),
        "stream.latest_offset_ms" -> part("latestOffset"),
        "stream.wal_commit_ms" -> part("walCommit"),
        "stream.commit_offsets_ms" -> part("commitOffsets"),
        "stream.backlog_rows" -> Layers.median(backlog.toSeq),
        "stream.generator_late_ms" -> Layers.median(lateMs.toSeq),
        "stream.out_in_ratio" -> (if (openRowsIn > 0) openRowsOut.toDouble / openRowsIn else 0.0),
        "state.rows_total" -> lastOps.map(_.numRowsTotal).sum.toDouble,
        "state.rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
        "state.rows_removed" -> ops.map(_.numRowsRemoved).sum.toDouble,
        "state.memory_bytes" -> lastOps.map(_.memoryUsedBytes).sum.toDouble,
        "state.commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
        "state.update_ms" -> ops.map(_.allUpdatesTimeMs).sum.toDouble,
        "state.removal_ms" -> ops.map(_.allRemovalsTimeMs).sum.toDouble,
        "state.dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
      layerUnits.foreach { case (k, u) => run.layers(k) = (layer(k), u) }
    }
  }

  /** The (exclusive, inclusive] MemoryStream offsets a batch read, or
    * None for a batch that read nothing. */
  def offsets(p: StreamingQueryProgress): Option[(Long, Long)] =
    p.sources.headOption.flatMap { s =>
      def num(j: String) = Option(j).filter(_.trim.nonEmpty).map(_.trim.toLong)
      val from = num(s.startOffset).getOrElse(-1L)
      num(s.endOffset).filter(_ > from).map(to => (from, to))
    }
}
