package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, QueryDef, SparkEntry, Tables}
import graft.control.{ControlPlane, JdbcControl}
import graft.control.ControlPlane.{RunLogEntry, Status}
import graft.etl.{Pipeline, Scd2}
import graft.mart.Mart

/** The benchmark's JVM side: runs one workload against the program's
  * public API and writes the raw samples as JSON for `perfbench/run.py`,
  * which checks outputs and reports the metrics.
  *
  * {{{
  * perfbench.Main --workload core-sql --seed 1 --seconds 10 --trace 0
  *   --cores 4 --data D --root R --out result.json [--spans f]
  * }}}
  *
  * Set-up runs [[SetupReps]] times in fresh sessions (the last one is
  * kept for the timed loop) so that its median is steady. The timed loop
  * is closed, with one client: each operation starts when the previous
  * one returned. With `--trace 1` the listeners are attached on every
  * other operation, so one run yields both the per-layer numbers and
  * the tracing overhead (traced and untraced samples drift alike as the
  * JIT keeps warming).
  */
object Main {
  val SetupReps = 3
  /** Extra noop passes after the checked one: the timed passes keep
    * speeding up (JIT) for several passes after the first.
    */
  val WarmPasses = 2

  /** The 30 relational QueryDefs of [[graft.QueriesCore]]. */
  def coreSql: Seq[QueryDef] = graft.QueriesCore.defs

  /** The 18 pair/dedup queries the pair sweep gates. */
  val dedupPairNames: Seq[String] = Seq(
    "q25_minhash_signature", "q26_minhash_pairs", "q27_simhash",
    "q28_ngram_jaccard", "q29_embed_dups", "q45_dedup_clusters",
    "q103_span_dedup", "q105_fuzzy_join", "q106_ppjoin",
    "q119_containment_pairs", "q130_cluster_histogram",
    "q137_cluster_survivor", "q164_record_linkage",
    "q166_linkage_clusters", "q185_semdedup", "q198_golden_record",
    "q206_knn_graph", "q218_dedup_savings")

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap)
    val result = a("workload") match {
      case "core-sql" => queries(a, coreSql)
      case "dedup-pairs" =>
        val byName = SparkEntry.allDefs.map(d => d.name -> d).toMap
        queries(a, dedupPairNames.map(byName))
      case "daily-etl" => Etl.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    val w = new PrintWriter(a("out"), "UTF-8")
    try w.println(Json(result)) finally w.close()
  }

  def session(cores: Int, root: String): SparkSession = {
    val s = GraftSession.builder(cores, Some(s"local[$cores]"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.ensureExtensions(s)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Heap still in use after a full GC: the least of five collections a
    * quarter second apart, so that what Spark's cleaner releases only
    * after a first collection (shuffle and broadcast state) is not
    * counted as retained.
    */
  def heapUsedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Apply `f` to every element on `threads` threads; return the
    * elements whose call threw, with the error.
    */
  def concurrently[T](xs: Seq[T], threads: Int)(f: T => Unit): Seq[(T, Throwable)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      xs.map { x =>
        x -> pool.submit[Option[Throwable]](() =>
          try { f(x); None } catch { case e: Throwable => Some(e) })
      }.flatMap { case (x, r) => r.get().map(x -> _) }
    } finally pool.shutdown()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The JVM's part of the host shape. */
  def hostFields(spark: SparkSession): Map[String, Any] = Map(
    "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version)

  def opsJson(t: Tracer): Seq[Map[String, Any]] = t.ops.toSeq.map { o =>
    Map("name" -> o.name, "wall" -> o.wall, "traced" -> o.traced,
      "error" -> o.error.orNull, "layers" -> o.layers)
  }

  def writeSpans(a: Args, t: Tracer): Unit = a.get("spans").foreach { path =>
    val w = new PrintWriter(path, "UTF-8")
    try w.println(Json(t.spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "counts" -> s.counts))))
    finally w.close()
  }

  /** core-sql / dedup-pairs: every query to the noop sink, in a
    * seed-shuffled order each pass, passes repeated until `seconds`
    * have elapsed (the pass under way finishes, so every query is
    * sampled equally often).
    *
    * Set-up: three fresh sessions, each timing the cold and the memoized
    * `Tables` loads; then, in the last one, two warm-up passes: the first
    * writes every query's output for the oracle check, and both let the
    * JIT and the generated-code cache settle before the timer starts
    * (one pass leaves the next ~15 % slower than the one after it). The
    * warm-up passes run `cores` queries at a time: the single-client
    * loop leaves cores idle, and this halves the cold pass.
    */
  def queries(a: Args, defs: Seq[QueryDef]): Map[String, Any] = {
    val cores = a("cores").toInt
    val (data, root) = (a("data"), a("root"))
    var spark: SparkSession = null
    val tablesCold, tablesMemo = Seq.newBuilder[Double]
    val sessions = (1 to SetupReps).map { _ =>
      if (spark != null) stop(spark)
      timed {
        spark = session(cores, root)
        graft.BoundedWindows.quietWindowWarnings()
        def loadAll(): Unit = Tables.all.foreach { t =>
          Tables.load(spark, data, t)
          Tables.scanPartitions(spark, data, t)
        }
        tablesCold += timed(loadAll())._2
        tablesMemo += timed(loadAll())._2
      }._2
    }
    val (checkErrors, warmup) = timed {
      val errors = concurrently(defs, cores) { d =>
        d.fn(spark, data).write.parquet(s"$root/check/${d.name}")
      }.map { case (d, e) => d.name -> String.valueOf(e.getMessage) }.toMap
      val ok = defs.filterNot(d => errors.contains(d.name))
      for (_ <- 1 to WarmPasses)
        concurrently(ok, cores)(d => noop(d.fn(spark, data)))
      errors
    }
    val trace = a("trace") == "1"
    val tracer = new Tracer
    val rng = new scala.util.Random(a("seed").toLong)
    val seconds = a("seconds").toDouble
    resetHeapPeak()
    val t0 = System.nanoTime()
    var pass = 0
    val position = defs.zipWithIndex.toMap
    while ((System.nanoTime() - t0) / 1e9 < seconds || (trace && pass < 2)) {
      rng.shuffle(defs).foreach { d =>
        // each query traced on every other pass: traced and untraced
        // samples then hold the same queries
        if (trace) tracer.setTraced(spark, (position(d) + pass) % 2 == 1)
        tracer.op(d.name) { op =>
          val df = op.layer("construct")(d.fn(spark, data))
          op.layer("execute")(noop(df))
        }
      }
      pass += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    if (trace) tracer.setTraced(spark, on = false)
    tracer.close(a("workload"))
    val heapPeak = heapPeakMb()
    val retained = heapUsedMb()
    val host = hostFields(spark)
    stop(spark)
    writeSpans(a, tracer)
    host ++ Map(
      "session_s" -> sessions, "warmup_s" -> warmup,
      "tables_cold_s" -> tablesCold.result(),
      "tables_memo_s" -> tablesMemo.result(), "passes" -> pass,
      "measured_s" -> measured, "retained_heap_mb" -> retained,
      "heap_peak_mb" -> heapPeak, "ops" -> opsJson(tracer),
      "check_dir" -> s"$root/check", "check_errors" -> checkErrors,
      "oracle" -> defs.map(d => d.name -> d.oracle.orNull).toMap)
  }
}

/** daily-etl: one operation per simulated day over the persisted
  * warehouse path, with the day's feed requested from the generator in
  * `run.py` (a line `@@FEED <day>` on stdout, answered with one line of
  * `key=value` fields on stdin) before the day's timer starts.
  */
object Etl {
  import Main._

  val AttrCols = Seq("brand", "material", "shape", "origin")
  val Measures = Seq("price", "quantity_available")
  val IdConfig = 1
  val Config = ControlPlane.FileConfig(IdConfig, "matkinh_daily",
    "kinhmatviettin.vn", "feeds", "matkinh_daily", "dw_matkinh", "landing",
    "daily", "b1")

  private val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))

  def feed(day: Int): Map[String, String] = {
    println(s"@@FEED $day")
    System.out.flush()
    in.readLine().trim.split(" ").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
  }

  def dirStats(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(path)).filter(_.isFile)
    (fs.map(_.length).sum, fs.size.toLong)
  }

  /** One day's state: paths of this set-up's warehouse and control DB. */
  final class Day(spark: SparkSession, root: String) {
    val wh = s"$root/dw"
    val conn = JdbcControl.Conn(s"jdbc:derby:$root/ctl;create=true",
      driver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
    private var logId = 0L

    private def log(): DataFrame =
      if (JdbcControl.tableExists(spark, conn, "file_logs"))
        JdbcControl.readLog(spark, conn)
      else ControlPlane.emptyLog(spark)

    private def mark(date: Date, status: String, count: Long): Unit = {
      logId += 1
      JdbcControl.upsertLog(spark, conn, RunLogEntry(logId, IdConfig,
        s"data_${IdConfig}_matkinh_daily_${date}_kinhmatviettin.vn.csv",
        date, status, count, 0L, new Timestamp(logId)))
    }

    private def guard(ok: Boolean, what: String): Unit =
      if (!ok) sys.error(s"control guard refused $what")

    /** The day's pipeline; every layer call timed under its own name. */
    def run(op: Tracer#Op, f: Map[String, String]): Unit = {
      val date = Date.valueOf(f("date"))
      val rows = f("rows_in").toLong
      op.layer("control") {
        guard(ControlPlane.canExtract(log(), IdConfig, date), "extract")
        mark(date, Status.Running, 0L)
        mark(date, Status.ExtractSuccess, rows)
        guard(ControlPlane.readyForStaging(log(), IdConfig, date), "staging")
      }
      val snapshot = op.layer("etl.ingest") {
        val staged = Pipeline.ingestDaily(spark, f("csv"), IdConfig, date, date)
        Pipeline.snapshotOf(staged, IdConfig, date)
      }
      op.layer("control") {
        mark(date, Status.LoadedStaging, rows)
        guard(ControlPlane.readyForDw(log(), IdConfig, date), "dw")
      }
      op.layer("etl.merge")(Scd2.mergeInPlace(spark, wh, snapshot,
        "natural_key", Pipeline.trackedCols, date))
      op.layer("control") {
        mark(date, Status.LoadedWarehouse, rows)
        guard(ControlPlane.readyForMart(log(), IdConfig, date), "mart")
      }
      val star = op.layer("mart.build")(Mart.build(spark,
        Scd2.readWarehouse(spark, wh), AttrCols, Measures,
        Date.valueOf(f("window_from")), Date.valueOf(f("window_until"))))
      val mat = op.layer("mart.materialize") {
        try Mart.materializeStar(spark, star, "mart") finally star.unpersist()
      }
      op.layer("mart.report") {
        noop(Mart.reportBrandMonth(mat))
        noop(Mart.reportCurrentInventory(mat, Seq("brand", "origin")))
      }
      op.layer("control")(mark(date, Status.LoadedMart, rows))
      snapshotForCheck = snapshot
    }

    var snapshotForCheck: DataFrame = _

    /** Outside the timer: the SCD2 invariants, and the open, closed and
      * fact row counts the generator predicts. Returns (problems, figures).
      */
    def check(f: Map[String, String]): (Seq[String], Map[String, Double]) = {
      val dw = Scd2.readWarehouse(spark, wh)
      val perKey = dw.groupBy("natural_key").agg(
        sum(col("is_current").cast("int")).as("n_open"),
        max(when(!col("is_current"), col("dt_last_update"))).as("last_close"),
        max(when(col("is_current"), col("dt_load_to_dw"))).as("open_from"),
        min(when(!col("is_current"),
          datediff(col("dt_last_update"), col("dt_load_to_dw")))).as("min_len"))
      val broken = perKey.filter(col("n_open") =!= 1 ||
        col("last_close") > col("open_from") || col("min_len") <= 0).count()
      val open = dw.filter(col("is_current")).count()
      val closed = dw.filter(!col("is_current")).count()
      val fact = spark.table("mart_fact").count()
      val grand = Mart.reportBrandMonth(Mart.Star(
        spark.table("mart_dim_product"), Mart.dimDate(spark), spark.table("mart_fact")))
        .filter(col("brand").isNull && col("year_month").isNull)
        .select("snapshot_rows").head().getLong(0)
      val kept = snapshotForCheck.count()
      val want = (k: String) => f(k).toLong
      val problems = Seq(
        (broken == 0) -> s"$broken keys break the SCD2 invariants",
        (open == want("open")) -> s"open rows $open, expected ${f("open")}",
        (closed == want("closed")) -> s"closed rows $closed, expected ${f("closed")}",
        (fact == want("fact_rows")) -> s"fact rows $fact, expected ${f("fact_rows")}",
        (grand == fact) -> s"brand-month report total $grand != fact rows $fact",
        (kept == want("present")) -> s"kept $kept rows, expected ${f("present")}")
        .collect { case (false, msg) => s"day ${f("day")}: $msg" }
      (problems, Map("open" -> open.toDouble, "closed" -> closed.toDouble,
        "fact" -> fact.toDouble, "kept" -> kept.toDouble))
    }
  }

  /** Set-up: three fresh sessions, each opening a new control database
    * and writing the feed's `file_config` row; then, in the last one,
    * day 0 (the warehouse bootstrap) and day 1 (the first merge) as the
    * warm-up. Timed days start at day 2; at least [[MinDays]] of them
    * run, so that a slow host does not also get fewer samples.
    */
  val MinDays = 3


  def run(a: Args): Map[String, Any] = {
    val cores = a("cores").toInt
    val root = a("root")
    var spark: SparkSession = null
    var day: Day = null
    val sessions = (1 to SetupReps).map { rep =>
      if (spark != null) stop(spark)
      timed {
        spark = session(cores, s"$root/setup$rep")
        day = new Day(spark, s"$root/setup$rep")
        JdbcControl.writeConfigs(spark, Seq(Config), day.conn)
      }._2
    }
    val problems = Seq.newBuilder[String]
    val warm = (0 to 1).map { n =>
      val f = feed(n)
      val rec = (new Tracer).op(s"day$n")(op => day.run(op, f))
      rec.error.foreach(e => sys.error(s"warm-up day $n failed: $e"))
      problems ++= day.check(f)._1
      (f, rec.wall)
    }
    val trace = a("trace") == "1"
    val tracer = new Tracer
    val seconds = a("seconds").toDouble
    var feedBytes = warm.map(w => new File(w._1("csv")).length).sum
    var (whBytes, whFiles) = dirStats(day.wh)
    var lastOpen = warm.last._1("open").toDouble
    var lastClosed = warm.last._1("closed").toDouble
    resetHeapPeak()
    var measured = 0.0
    var n = warm.size - 1
    val extra = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    while (measured < seconds || n - warm.size + 1 < MinDays) {
      n += 1
      val f = feed(n)
      feedBytes += new File(f("csv")).length
      if (trace) tracer.setTraced(spark, n % 2 == 0)
      val rec = tracer.op(s"day$n")(op => day.run(op, f))
      measured += rec.wall
      if (rec.error.isEmpty) {
        val (p, got) = day.check(f)
        problems ++= p
        val (b, c) = dirStats(day.wh)
        val (mb, _) = dirStats(s"$root/setup$SetupReps/warehouse")
        extra += Map(
          "etl.rows_in" -> f("rows_in").toDouble,
          "etl.kept" -> got("kept"),
          "etl.bytes_written" -> (b - whBytes).toDouble,
          "etl.files_written" -> (c - whFiles).toDouble,
          "etl.restaged" -> got("open"),
          "etl.changed_rows" -> ((got("open") - lastOpen) + (got("closed") - lastClosed)),
          "mart.fact_rows" -> got("fact"),
          "mart.bytes_written" -> mb.toDouble)
        whBytes = b; whFiles = c
        lastOpen = got("open"); lastClosed = got("closed")
      } else extra += Map.empty
    }
    if (trace) tracer.setTraced(spark, on = false)
    tracer.close("daily-etl")
    val heapPeak = heapPeakMb()
    val retained = heapUsedMb()
    val stored = dirStats(day.wh)._1 + dirStats(s"$root/setup$SetupReps/warehouse")._1 +
      dirStats(s"$root/setup$SetupReps/ctl")._1
    val host = hostFields(spark)
    stop(spark)
    writeSpans(a, tracer)
    val ops = opsJson(tracer).zip(extra).map { case (o, x) =>
      o + ("extra" -> x) }
    host ++ Map(
      "session_s" -> sessions, "warmup_s" -> warm.map(_._2).sum,
      "measured_s" -> measured,
      "retained_heap_mb" -> retained, "heap_peak_mb" -> heapPeak,
      "ops" -> ops, "problems" -> problems.result(),
      "stored_bytes" -> stored, "feed_bytes" -> feedBytes)
  }
}

/** Minimal JSON writer for the result maps above. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
