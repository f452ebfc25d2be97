package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The closed-loop batch workload: one client runs the queries back to
  * back, each followed by per-query isolation (cache clear plus a
  * blocking unpersist, as graft.Bench does). The seed sets the query
  * order of every pass. */
object Batch {
  /** TPC-H q3 and TPC-DS q42 as DataFrame twin and as SQL text, where
    * Catalyst and task execution dominate; then an iterative query that
    * runs dozens of jobs, where the driver gap between jobs and the
    * operators' eager work dominate. */
  val Queries = Seq("q_tpch_q3", "q_dsreal_q42", "q_sqltext_q42", "q_dedup_clusters")

  /** One pass over the queries takes about this long on 4 cores; a run
    * of S seconds makes ceil(S / PassS) passes, at least three. The
    * pass count is fixed by S, so every run has the same samples. */
  val PassS = 6.0

  /** Expected fingerprints, one `name rows sha256` line per query. */
  def expected(path: String): Map[String, Fingerprint.Print] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+")).map(a => a(0) -> Fingerprint.Print(a(1).toLong, a(2))).toMap

  def run(spark: SparkSession, run: Main.Run, trace: Option[Trace]): Unit = {
    val args = run.args
    val dir = args.data
    val want = expected(args.expected)
    val rng = new scala.util.Random(args.seed)

    // table and view first touch: every frame the queries read is
    // memoised per session, so this is the cold read of footers/schemas
    val tablesT0 = System.nanoTime()
    graft.Tables.registerAll(spark, dir)
    import graft.dsreal.DsTables._
    Seq(storeSales(spark, dir), catalogSales(spark, dir), webSales(spark, dir),
      storeReturns(spark, dir), catalogReturns(spark, dir), webReturns(spark, dir),
      item(spark, dir), dateDim(spark), store(spark)).foreach(_.schema)
    val tablesLoadS = (System.nanoTime() - tablesT0) / 1e9

    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    var sampleNo = 0
    /** One execution: build the query's frame, collect it, check it.
      * Returns the wall time in seconds when it ran and was correct. */
    def execute(q: String): Option[(Double, Span)] = {
      sampleNo += 1
      val id = s"batch-$sampleNo-$q"
      run.attempt()
      spark.sparkContext.setJobGroup(id, q, interruptOnCancel = false)
      val e0 = Main.nowMs()
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val e1 = Main.nowMs()
        val rows = df.collect()
        val wall = (System.nanoTime() - t0) / 1e9
        val e2 = Main.nowMs()
        val sample = Span("sample", q, id, e0, e2)
        trace.foreach { t =>
          t.add(sample)
          t.add(Span("build", q, id, e0, e1))
          t.add(Span("action", q, id, e1, e2))
        }
        val got = Fingerprint.of(df.columns.toSeq, rows)
        want.get(q) match {
          case None => run.fail(q, "no expected fingerprint"); None
          case Some(exp) if exp.rows != got.rows =>
            run.fail(q, s"${got.rows} rows, expected ${exp.rows}"); None
          case Some(exp) if exp.rows > 0 && exp.sha256 != got.sha256 =>
            run.fail(q, s"result differs from the oracle fingerprint"); None
          case _ => Some((wall, sample))
        }
      } catch {
        case e: Throwable =>
          run.fail(q, (e.getClass.getSimpleName + ": " + e.getMessage).take(300))
          None
      } finally {
        spark.sparkContext.clearJobGroup()
        isolate()
      }
    }

    // untimed warm execution of every query; it is also checked
    rng.shuffle(Queries).foreach(execute)
    val setupS = Main.sinceStartS

    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val timed = mutable.ArrayBuffer.empty[(String, Span)]
    val loopT0 = System.nanoTime()
    val passes = math.max(3, math.ceil(args.seconds / PassS).toInt)
    (1 to passes).foreach { _ =>
      rng.shuffle(Queries).foreach { q =>
        execute(q).foreach { case (wall, span) =>
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += wall
          timed += (q -> span)
        }
      }
    }
    val elapsed = (System.nanoTime() - loopT0) / 1e9

    if (times.isEmpty) sys.error("no query execution succeeded")
    val medians = times.map { case (q, t) => q -> Layers.median(t.toSeq) }
    val (tailS, tailP, n) = Main.tail(times.values.flatten.toSeq)
    run.metrics("setup_s") = (setupS, "s")
    run.metrics("suite_s") = (medians.values.sum, "s")
    run.metrics("latency_p50_ms") = (Main.geomean(medians.values.toSeq) * 1000, "ms")
    run.metrics("latency_tail_ms") = (tailS * 1000, "ms")
    run.notes("query_tail") = f"p$tailP of $n warm samples, $passes passes"
    run.notes("measured_s") = f"$elapsed%.2f"
    medians.foreach { case (q, m) => run.notes(s"median_s.$q") = f"$m%.3f" }

    trace.foreach { t =>
      t.drain()
      run.perQuery = Layers.perQuery(t, timed.toSeq)
      Layers.common(run.perQuery, args.cores, tablesLoadS).foreach { case (k, v, u) =>
        run.layers(k) = (v, u)
      }
      Stream.layerUnits.foreach { case (k, u) => run.layers(k) = (0.0, u) }
    }
  }
}
