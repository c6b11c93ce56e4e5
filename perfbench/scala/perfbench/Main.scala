package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.etl.{Extract, Load, Transform}

/** The benchmark's JVM side. It runs one workload in this process with
  * one client thread in a closed loop, times each operation around the
  * engine's public calls, and writes the raw samples (and, when traced,
  * spans, job counters and plan records) to `<run-dir>/samples.json`.
  * `perfbench/run.py` generates the inputs, starts this program, checks
  * its outputs and summarises the samples.
  *
  * Arguments (all required): --workload, --run-dir, --seconds, --trace
  * (0|1), --cpus; query_warm adds --tables and --queries (comma list,
  * in timed order); etl_daily adds --pages-dir, --runs, --warm-runs
  * and --runs-per-day.
  */
object Main {
  /** Listing columns in the order of the reference's table DDL. */
  val ListingCols: Seq[String] = Seq("link", "ads_type", "property_type", "name", "location",
    "lot_size", "building_size", "n_bedroom", "n_bathroom", "n_carport",
    "additional_features", "price_rp")
  val Admins: Seq[String] = Seq("Jakarta Barat", "Jakarta Selatan", "Jakarta Timur", "Tangerang")

  final case class Op(name: String, cycle: Int, traced: Boolean, startMs: Double, durS: Double,
                      buildS: Double, rows: Long, error: String, extra: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // a persistent stage root would turn cold stage builds into adoptions
    require(sys.props.get("graft.stage.root").isEmpty && sys.env.get("SPARK_GRAFT_STAGE_ROOT").isEmpty,
      "unset graft.stage.root / SPARK_GRAFT_STAGE_ROOT to benchmark")
    val runDir = args("run-dir")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"

    val tb = System.nanoTime()
    val spark = GraftSession.local(args("cpus"))
    val sessionBuildS = (System.nanoTime() - tb) / 1e9
    val tracer = new Tracer(spark.sparkContext, new File(runDir).getName)
    val jobs = new JobListener
    val plans = new PlanListener
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    val ops = ArrayBuffer.empty[Op]
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> args("workload"), "session_build_s" -> sessionBuildS)

    // closed loop over whole cycles: the window is the shortest run of
    // cycles lasting at least `seconds` (so its cycle count holds while a
    // cycle's time stays within a factor of two). A traced run has a
    // window twice as long whose cycles alternate untraced and traced;
    // the difference between the two halves is the tracing overhead.
    def loop(more: () => Boolean)(cycle: Int => Unit): Unit = {
      val window = if (traced) 2 * seconds else seconds
      val spent = Array(0.0, 0.0) // untraced, traced cycle time
      val t0 = System.nanoTime()
      var k = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (k < (if (traced) 2 else 1) || (elapsed < window && more())) {
        tracer.on = traced && k % 2 == 1
        val c0 = System.nanoTime()
        cycle(k)
        spent(if (tracer.on) 1 else 0) += (System.nanoTime() - c0) / 1e9
        k += 1
      }
      tracer.on = false
      out("measured_s") = if (traced) spent(0) else elapsed
      if (traced) out("traced_measured_s") = spent(1)
      out("cycles") = k
    }

    args("workload") match {
      case "etl_daily" => etlDaily(spark, args, tracer, ops, out, loop)
      case "query_warm" => queries(spark, args, tracer, ops, out, loop)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      out("spans") = tracer.toJson
      out("span_counters") = jobs.counters.map { case (k, v) => k.toString -> v }
      out("plans") = plans.toJson
    }
    out("ops") = ops.toSeq.map(opJson)
    out("peak_rss_mb") = peakRssMb()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(runDir, "samples.json"), out.toMap)
    spark.stop()
  }

  private def opJson(o: Op): Map[String, Any] = Map("name" -> o.name, "cycle" -> o.cycle,
    "traced" -> o.traced, "start_ms" -> o.startMs, "dur_s" -> o.durS, "build_s" -> o.buildS,
    "rows" -> o.rows, "error" -> o.error, "extra" -> o.extra)

  // ---- etl_daily ----------------------------------------------------------

  private def etlDaily(spark: SparkSession, args: Map[String, String], tr: Tracer,
                       ops: ArrayBuffer[Op], out: scala.collection.mutable.Map[String, Any],
                       loop: (() => Boolean) => (Int => Unit) => Unit): Unit = {
    import spark.implicits._
    val runDir = args("run-dir")
    val pagesDir = args("pages-dir")
    val runsPerDay = args("runs-per-day").toInt
    val url = s"jdbc:derby:memory:perfbench_${new File(runDir).getName};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    def ddl(table: String, pk: Boolean): String =
      s"""CREATE TABLE $table (link VARCHAR(256)${if (pk) " PRIMARY KEY" else ""},
         |ads_type VARCHAR(16), property_type VARCHAR(16), name VARCHAR(256),
         |location VARCHAR(256), lot_size INT, building_size INT, n_bedroom INT,
         |n_bathroom INT, n_carport INT, additional_features VARCHAR(512),
         |price_rp BIGINT)""".stripMargin
    val st = conn.createStatement()
    for (prefix <- Seq("", "warm_")) {
      st.execute(ddl(s"${prefix}property_rumah", pk = true))
      st.execute(ddl(s"${prefix}stg_property_rumah", pk = false))
    }
    def mainCount(table: String): Long = {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }

    // one region-run of the reference's pipeline
    def regionRun(runPages: String, outDir: String, date: java.time.LocalDate,
                  main: String, stg: String): Long = {
      val pages = spark.read.format("graft.sources.PageSource")
        .option("path", runPages).load().as[(Int, String)]
      var staged = -1L
      val raw = tr.span("extract") { s =>
        val r = Extract.fromPages(pages, "jual", "rumah", Admins)
        if (tr.on) { // traced: materialize so the layer's work lands in its span
          val c = r.cache(); s.attrs("cards") = c.count()
          s.attrs("pages") = graft.sources.PageSource.lastPlannedPages
          c
        } else r
      }
      val clean = tr.span("transform") { s =>
        val t = Transform.transform(raw)
        if (tr.on) {
          val c = t.cache(); staged = c.count(); s.attrs("rows_out") = staged
          c
        } else t
      }
      val path = tr.span("load.jsonl") { s =>
        val p = Load.datedJsonl(clean, "listings", outDir, date)
        if (tr.on) s.attrs("bytes") = dirBytes(Paths.get(p))
        p
      }
      val back = tr.span("load.read")(_ => spark.read.schema(clean.schema).json(path))
      tr.span("load.jdbc") { s =>
        Load.jdbcUpsert(back.select(ListingCols.map(col): _*), url, stg, main, "link",
          batchSize = 500, dialect = Load.AnsiMerge)
        if (tr.on) s.attrs("rows") = staged
      }
      if (tr.on) { raw.unpersist(); clean.unpersist() }
      staged
    }

    // untimed warm-up runs, into tables of their own
    for (w <- 1 to args("warm-runs").toInt)
      regionRun(s"$pagesDir/warm$w", s"$runDir/out/warm$w", java.time.LocalDate.of(2023, 12, 31),
        "warm_property_rumah", "warm_stg_property_rumah")

    val nRuns = args("runs").toInt
    var r = 0
    // a benchmark run that uses up the generated region-runs ends early
    loop(() => r < nRuns) { cycle =>
      r += 1
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(((r - 1) / runsPerDay).toLong)
      val before = mainCount("property_rumah")
      val t0 = tr.nowMs
      val n0 = System.nanoTime()
      var err: String = null
      var staged = -1L
      tr.span("region_run") { s =>
        s.attrs("run") = r
        try staged = regionRun(s"$pagesDir/run$r", s"$runDir/out/run$r", date,
          "property_rumah", "stg_property_rumah")
        catch { case NonFatal(e) => err = e.toString }
      }
      val dur = (System.nanoTime() - n0) / 1e9
      val after = mainCount("property_rumah")
      ops += Op(s"run$r", cycle, tr.on, t0, dur, 0.0, after, err,
        Map("run" -> r, "inserted" -> (after - before), "staged" -> staged))
    }
    out("runs_done") = r

    val rs = st.executeQuery(s"SELECT ${ListingCols.mkString(", ")} FROM property_rumah")
    val rows = ArrayBuffer.empty[Seq[Any]]
    while (rs.next()) rows += ListingCols.indices.map(i => rs.getObject(i + 1))
    rs.close(); st.close(); conn.close()
    out("main_table") = rows.toSeq
  }

  // ---- query_warm ----------------------------------------------------------

  private def queries(spark: SparkSession, args: Map[String, String], tr: Tracer,
                      ops: ArrayBuffer[Op], out: scala.collection.mutable.Map[String, Any],
                      loop: (() => Boolean) => (Int => Unit) => Unit): Unit = {
    val runDir = args("run-dir")
    val dir = args("tables")
    val names = args("queries").split(",").toSeq
    val stageRoot = Paths.get(sys.props("java.io.tmpdir"), "graft_stage")

    // one query operation: the engine call (which builds a staged op's
    // stages eagerly) and then `action` on its result
    def run(n: String, cycle: Int, root: String, last: String)(action: DataFrame => Long): Op = {
      graft.ops.Cluster.resetRounds()
      val before = if (tr.on) stageMarkers(stageRoot) else Map.empty[String, Long]
      val t0 = tr.nowMs
      val n0 = System.nanoTime()
      var nb = n0
      var rows = -1L
      var err: String = null
      var qs: tr.Span = null
      tr.span(root) { s =>
        qs = s
        s.attrs("query") = n
        try {
          val df = tr.span("query.build")(_ => SparkEntry.queries(n)(spark, dir))
          nb = System.nanoTime()
          rows = tr.span(last)(_ => action(df))
        } catch { case NonFatal(e) => err = e.toString }
      }
      val n1 = System.nanoTime()
      val extra = scala.collection.mutable.Map[String, Any]("rounds" -> graft.ops.Cluster.lastRounds)
      if (tr.on) {
        val written = stageMarkers(stageRoot).filter { case (p, t) => !before.get(p).contains(t) }
          .keys.toSeq
        extra("stages_written") = written
        extra("stage_bytes") = written.map(p => dirBytes(Paths.get(p))).sum
        qs.attrs ++= Seq("stages_written" -> written.size, "stage_bytes" -> extra("stage_bytes"))
      }
      Op(n, cycle, tr.on, t0, (n1 - n0) / 1e9, (nb - n0) / 1e9, rows, err, extra.toMap)
    }

    def write(results: String)(n: String)(df: DataFrame): Long = {
      df.write.mode("overwrite").parquet(s"$runDir/$results/$n"); -1L
    }
    // untimed first pass (traced in a traced run): builds the stages
    // these queries read and writes each result for the oracle check
    tr.on = args("trace") == "1"
    out("setup_ops") = names.map(n => run(n, -1, "first_pass", "query.write")(write("results")(n)))
      .map(opJson)
    tr.on = false
    out("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap
    // one more untimed cycle, so the window starts from a steadier JIT
    // state. It reads every stage from the memo, as the window does, and
    // writes each result for the oracle check too, so the memo-read path
    // is checked by value, not only by row count.
    out("warm_ops") = names.map(n => run(n, -1, "warm", "query.write")(write("results_warm")(n)))
      .map(opJson)

    loop(() => true) { cycle =>
      for (n <- names) ops += run(n, cycle, "query", "query.count")(_.count())
    }
  }

  /** Stage directories under `root` with a commit marker, and its mtime. */
  private def stageMarkers(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
        .map(p => p.getParent.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally st.close()
    }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
