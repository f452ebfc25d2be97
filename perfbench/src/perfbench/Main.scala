package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. `run.py` builds this package and calls it as
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --cores K --data DIR --expected FILE --out FILE [--spans FILE]
  *
  * It prints a human-readable report on stdout and writes the run's
  * full result as JSON to `--out`; with `--trace 1` it also writes the
  * span file. `--dump-oracle FILE` instead writes the DuckDB oracle
  * texts of every benchmarked query, the input of fingerprint.py. */
object Main {
  val t0Ns: Long = System.nanoTime()

  final case class Args(workload: String, seed: Long, seconds: Double,
      traced: Boolean, cores: Int, data: String, expected: String,
      out: String, spans: Option[String])

  /** What one run reports, whatever its workload. */
  final class Run(val args: Args) {
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    /** End-to-end metrics: name -> (value, unit). */
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** Per-layer metrics (traced runs only). */
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** Extra report lines: name -> rendered value. */
    val notes = mutable.LinkedHashMap.empty[String, String]
    var perQuery: Seq[(String, Map[String, Double])] = Nil

    def fail(op: String, why: String): Unit = synchronized { failures += (op -> why) }
    def attempt(): Unit = synchronized { attempted += 1 }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("data"), need("expected"),
      need("out"), m.get("spans"))
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def sinceStartS: Double = (System.nanoTime() - t0Ns) / 1e9

  /** Span clock: epoch ms, as the listener buses stamp their events. */
  def nowMs(): Double = System.currentTimeMillis().toDouble

  /** Live heap after a full collection, in MB. The pauses let Spark's
    * ContextCleaner release what the first collections made unreachable. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(250) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def jvmLayers(): Seq[(String, Double, String)] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jitMs = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    val codeMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("Code")).map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
    Seq(("jvm.gc_s", gcMs / 1000.0, "s"), ("jvm.jit_ms", jitMs, "ms"),
      ("jvm.code_cache_mb", codeMb, "MB"))
  }

  /** The typical latency of a workload with few distinct queries or
    * pipelines: the geometric mean of each one's median. A pooled median
    * would jump between the clusters of the individual queries. */
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The tail percentile: the highest whole percentile that leaves at
    * least 10 samples above it, or p90 when there are fewer than 100
    * samples. Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val n = xs.size
    val p = if (n >= 100) (100 * (n - 10)) / n else 90
    (percentile(xs, p), p, n)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracle")) {
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(argv(1)),
        Json(Batch.Queries.filter(oracle.contains).map(n => n -> oracle(n)).toMap))
      return
    }
    val args = parse(argv)
    val spark = session(args.cores)
    val sessionS = sinceStartS
    val trace = if (args.traced) Some(new Trace(args.cores)) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
    }
    val run = new Run(args)
    run.notes("session_s") = f"$sessionS%.2f"
    try {
      args.workload match {
        case "batch" => Batch.run(spark, run, trace)
        case "stream" => Stream.run(spark, run, trace)
        case w => sys.error(s"unknown workload $w")
      }
      run.metrics("heap_mb") = (liveHeapMb(), "MB")
      trace.foreach { t =>
        jvmLayers().foreach { case (k, v, u) => run.layers(k) = (v, u) }
        args.spans.foreach(p => Files.writeString(Paths.get(p), Json(Map(
          "workload" -> args.workload, "seed" -> args.seed,
          "per_query" -> run.perQuery.toMap,
          "spans" -> t.all.map(s => Map("kind" -> s.kind, "name" -> s.name,
            "sample" -> s.sample, "start_ms" -> s.start, "end_ms" -> s.end,
            "attrs" -> s.attrs))))))
      }
    } finally {
      spark.stop()
    }
    report(run)
    Files.writeString(Paths.get(args.out), Json(Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> (if (args.traced) 1 else 0), "cores" -> args.cores,
      "attempted" -> run.attempted, "failed" -> run.failures.size,
      "failures" -> run.failures.map { case (o, w) => Map("op" -> o, "why" -> w) },
      "metrics" -> run.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> run.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "notes" -> run.notes.toMap,
      "per_query" -> run.perQuery.toMap)))
  }

  def report(run: Run): Unit = {
    val w = run.args.workload
    val tag = if (run.args.traced) "traced" else "untraced"
    println(f"== perfbench $w seed=${run.args.seed} ($tag, local[${run.args.cores}])")
    run.metrics.foreach { case (k, (v, u)) => println(f"$w%-10s $k%-24s $v%14.4f $u") }
    run.notes.foreach { case (k, v) => println(f"$w%-10s $k%-24s $v") }
    val frac = if (run.attempted > 0) run.failures.size.toDouble / run.attempted else 0.0
    println(f"$w%-10s ${"failed_frac"}%-24s $frac%14.4f ratio (${run.failures.size}/${run.attempted})")
    run.failures.foreach { case (op, why) => println(s"$w FAILED $op: $why") }
    run.layers.foreach { case (k, (v, u)) => println(f"$w%-10s $k%-24s $v%14.4f $u") }
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
