package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.{Catalog, DdlLedger, GraftSession}
import graft.grid.{GridReader, RadiationPoint}
import graft.streaming.Ingest

/** Settings shared by the workloads of one run. */
final case class Env(workload: String, seed: Long, seconds: Int, cores: Int, work: Path, tracer: Tracer) {
  val heap = new HeapWatch
}

/** One serving pipeline on disk: the reference's `in/` drop zone, the
  * partitioned serving table, and the streaming and catalog state beside it.
  */
final class Pipeline(val root: Path) {
  val in: Path = root.resolve("in")
  val serving: Path = root.resolve("serving")
  val checkpoint: Path = root.resolve("checkpoint")
  val archive: Path = root.resolve("archive")
  val quarantine: Path = root.resolve("quarantine")
  val ledgerDir: Path = root.resolve("ledger")
  val staging: Path = root.resolve("staging")
  Seq(in, staging).foreach(Files.createDirectories(_))

  /** Land files in `in/` the way an upload completes: written elsewhere,
    * then renamed in, so the drain never lists a half-copied file.
    */
  def deliver(files: Seq[(String, Array[Byte])]): Unit = files.foreach { case (name, bytes) =>
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def parquetFiles: Seq[Path] = files(serving).filter(_.getFileName.toString.endsWith(".parquet"))
  def parquetBytes: Long = parquetFiles.map(Files.size).sum
  def hourDirs: Int = parquetFiles.map(_.getParent).distinct.size
}

/** Code both workloads share: set-up timing, catalog calls, queries and the
  * per-layer numbers read from outside the program.
  */
object Common {
  /** The reference's database name, and the name `Catalog` gives it. */
  val DbName = "bom-radiation"
  val Db: String = Catalog.sanitize(DbName)
  val Table = "radiation"

  /** Set up three times and keep the median duration and the last state.
    * Each set-up starts its own session, as a new ad-hoc job does; the
    * previous one is stopped first. Stopping it, and `prepare` laying down
    * the benchmark's own inputs, are not timed: `setup` is everything the
    * program does before it can serve.
    */
  def setups[P, S](env: Env, session: S => SparkSession)(prepare: Int => P)(setup: (Int, P, SparkSession) => S): (S, Double) = {
    var last: Option[S] = None
    val secs = (0 until 3).map { k =>
      last.foreach(session(_).stop())
      val prepared = prepare(k)
      val t0 = System.nanoTime()
      last = Some(setup(k, prepared, GraftSession.local(env.cores)))
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"perfbench: set-ups took ${secs.map(s => f"$s%.2f").mkString(", ")} s")
    (last.get, Stats.median(secs))
  }

  /** A catalog call timed as its own operation of the `catalog` layer. */
  final class CatalogOps(spark: SparkSession, ledgerDir: Path, tracer: Tracer) {
    val ledger: DdlLedger = DdlLedger(spark, ledgerDir.toString)
    val times = mutable.ArrayBuffer.empty[Double]
    var calls = 0

    private def call(parent: Long, op: String, what: String)(body: => Unit): Unit = {
      calls += 1
      val (_, ms) = tracer.op(spark, parent, s"$op/ddl$calls", "catalog", what)(body)
      times += ms
    }
    def createDatabase(parent: Long, op: String): Unit =
      call(parent, op, "createDatabase") { Catalog.createDatabase(spark, DbName, ledger) }
    def createTable(parent: Long, op: String, location: Path): Unit =
      call(parent, op, "createRadiationTable") { Catalog.createRadiationTable(spark, Db, Table, location.toString, ledger) }
    def addPartition(parent: Long, op: String, k: PartKey): Unit =
      call(parent, op, s"addPartition $k") { Catalog.addPartition(spark, Db, Table, k.year, k.month, k.day, k.hour, ledger) }
    def repair(parent: Long, op: String): Unit =
      call(parent, op, "repairTable") { Catalog.repairTable(spark, Db, Table, ledger) }

    def checkLedger(s: SparkSession): Seq[String] = {
      val recorded = DdlLedger.read(s, ledgerDir.toString).select("statement", "status").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Checks.ledger(calls, recorded)
    }
  }

  /** Scan nodes of an executed plan, looking through adaptive wrappers. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Run one serving SQL query as an operation; in a traced run also record
    * planning time and the scan's own metrics.
    */
  def query(spark: SparkSession, tracer: Tracer, parent: Long, op: String, kind: String, sql: String): (Array[Row], Double) = {
    val start = tracer.nowMs
    val (res, ms) = tracer.op(spark, parent, op, "query", kind) {
      val df = spark.sql(sql)
      (df, df.collect())
    }
    val (df, rows) = res
    if (tracer.enabled) {
      val phases = df.queryExecution.tracker.phases
      val planMs = phases.values.map(_.durationMs.toDouble).sum
      // Catalyst's phases, summed, drawn from the start of the query
      tracer.span(tracer.reserve(), tracer.opId(op), op, "plan", "parse+analyze+optimize+plan", start, start + planMs)
      tracer.add("query.count", 1)
      tracer.add("query.plan_ms", planMs)
      tracer.add("query.exec_ms", ms - planMs)
      tracer.add("query.rows_returned", rows.length)
      scans(df.queryExecution.executedPlan).foreach { s =>
        def m(k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        tracer.add("query.scan_metadata_ms", m("metadataTime"))
        tracer.add("query.partitions_read", m("numPartitions"))
        tracer.add("query.files_read", m("numFiles"))
        tracer.add("query.rows_scanned", m("numOutputRows"))
      }
    }
    (rows, ms)
  }

  /** Per-partition content of the serving table, for the checks. */
  def partitionStats(spark: SparkSession): Map[PartKey, Checks.PartStat] =
    spark.sql(
      s"""SELECT year, month, day, hour, count(*), sum(radiation), collect_set(date)
         |FROM $Db.$Table GROUP BY year, month, day, hour""".stripMargin).collect().map { r =>
      PartKey(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
        Checks.PartStat(r.getLong(4), r.getLong(5), r.getSeq[String](6).toSet)
    }.toMap

  def registeredPartitions(spark: SparkSession): Set[PartKey] = {
    val Spec = "year=(\\d+)/month=(\\d+)/day=(\\d+)/hour=(\\d+)".r
    spark.sql(s"SHOW PARTITIONS $Db.$Table").collect().map(_.getString(0)).map {
      case Spec(y, m, d, h) => PartKey(y.toInt, m.toInt, d.toInt, h.toInt)
    }.toSet
  }

  type Cell = (Double, Double, Int)
  implicit val cellOrd: Ordering[Cell] =
    Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering, Ordering.Int)

  def cells(rows: Array[Row]): Seq[Cell] = rows.toSeq.map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2)))

  /** Land cells of `gen` inside rows `r0..r1` and columns `c0..c1` of one hour. */
  def boxCells(gen: GridGen, vals: Array[Int], r0: Int, r1: Int, c0: Int, c1: Int): Seq[Cell] =
    for {
      r <- r0 to r1
      c <- c0 to c1
      v = vals(r * gen.ncols + c)
      if v != gen.nodata
    } yield (gen.lon(c), gen.lat(r), v)

  /** SQL bounds half a cell outside the box, so no cell sits on an edge. */
  def boxSql(gen: GridGen, r0: Int, r1: Int, c0: Int, c1: Int): String = {
    val h = gen.cellsize / 2
    s"latitude BETWEEN ${gen.lat(r1) - h} AND ${gen.lat(r0) + h} AND longitude BETWEEN ${gen.lon(c0) - h} AND ${gen.lon(c1) + h}"
  }

  def hourSql(k: PartKey): String = s"year = ${k.year} AND month = ${k.month} AND day = ${k.day} AND hour = ${k.hour}"

  /** Per-layer metrics of the `spark` layer over the timed region. */
  def sparkLayer(env: Env, ops: Int, opWallMs: Double, timedMs: Double): Seq[(String, Metric)] = {
    val t = env.tracer
    val c = t.counters
    def per(k: String): Double = c.getOrElse(k, 0.0) / math.max(ops, 1)
    val busy = t.busyMs("spark")
    Seq(
      "spark.jobs" -> Metric(per("spark.jobs"), "count"),
      "spark.stages" -> Metric(per("spark.stages"), "count"),
      "spark.tasks" -> Metric(per("spark.tasks"), "count"),
      "spark.task_ms" -> Metric(per("spark.task_ms"), "ms"),
      "spark.job_busy_ms" -> Metric(busy / math.max(ops, 1), "ms"),
      "spark.driver_gap_ms" -> Metric((opWallMs - busy) / math.max(ops, 1), "ms"),
      "spark.core_util" -> Metric(c.getOrElse("spark.task_ms", 0.0) / (timedMs * env.cores), "ratio"),
      "spark.gc_ms" -> Metric(per("spark.gc_ms"), "ms"),
      "spark.spill_bytes" -> Metric(per("spark.spill_bytes"), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(per("spark.shuffle_read_bytes"), "bytes"),
      "spark.shuffle_write_bytes" -> Metric(per("spark.shuffle_write_bytes"), "bytes"),
      "spark.input_bytes" -> Metric(per("spark.input_bytes"), "bytes"),
      "spark.output_bytes" -> Metric(per("spark.output_bytes"), "bytes"))
  }

  def queryLayer(env: Env): Seq[(String, Metric)] = {
    val c = env.tracer.counters
    val n = math.max(c.getOrElse("query.count", 0.0), 1.0)
    def per(k: String): Double = c.getOrElse(k, 0.0) / n
    Seq(
      "query.plan_ms" -> Metric(per("query.plan_ms"), "ms"),
      "query.exec_ms" -> Metric(per("query.exec_ms"), "ms"),
      "query.scan_metadata_ms" -> Metric(per("query.scan_metadata_ms"), "ms"),
      "query.partitions_read" -> Metric(per("query.partitions_read"), "count"),
      "query.files_read" -> Metric(per("query.files_read"), "count"),
      "query.rows_scanned_per_row_returned" -> Metric(
        c.getOrElse("query.rows_scanned", 0.0) / math.max(c.getOrElse("query.rows_returned", 0.0), 1.0), "ratio"))
  }

  def catalogLayer(ops: Int, ddl: Seq[Double]): Seq[(String, Metric)] = Seq(
    "catalog.ddl_statements" -> Metric(ddl.length.toDouble / math.max(ops, 1), "count"),
    "catalog.ddl_ms" -> Metric(ddl.sum / math.max(ops, 1), "ms"),
    "catalog.ddl_p50_ms" -> Metric(if (ddl.isEmpty) 0.0 else Stats.median(ddl), "ms"))
}

/** ingest_adhoc: the reference's own traffic. Each load lands three new
  * hourly real-size grids plus one half-written grid, drains them with one
  * `runAvailableNow`, registers the new hours through a ledger, and asks
  * the pruned question a user asks of the newest hour.
  *
  * Load `k` carries day `k`'s grids for 01, 09 and 13 UTC: Sydney midday,
  * evening and midnight. Every load thus crosses a Sydney day boundary and
  * has the same mix of day and night values, so loads cost the same and a
  * run's numbers do not depend on how many loads it reached.
  */
object IngestAdhoc {
  import Common._

  val LoadHours: Seq[Long] = Seq(1L, 9L, 13L)
  val MaxAttempts: Int = Ingest.DefaultMaxAttempts

  final class State(val pipe: Pipeline) {
    var spark: SparkSession = _
    var cat: CatalogOps = _
    var loads = 0
    val expected = mutable.Map.empty[PartKey, (PartTruth, String)]
    val truncated = mutable.ArrayBuffer.empty[(Int, String)]
    val answers = mutable.ArrayBuffer.empty[(String, Seq[Cell], Seq[Cell])]
  }

  /** One load's new hours, its newest hour, and the query box with its answer. */
  final case class Staged(hours: Seq[Long], r0: Int, c0: Int, want: Seq[Cell])

  val Box = 24

  /** The `parse` the traced run hands to `runAvailableNow`: the default
    * parser, timed and counted through accumulators.
    */
  final class CountingParse(spark: SparkSession) extends Serializable {
    val nanos: LongAccumulator = spark.sparkContext.longAccumulator("grid.parse_ns")
    val calls: LongAccumulator = spark.sparkContext.longAccumulator("grid.parse_calls")
    val names: CollectionAccumulator[String] = spark.sparkContext.collectionAccumulator[String]("grid.files")
    def fn: (String, String) => Seq[RadiationPoint] = {
      val (n, c, f) = (nanos, calls, names)
      (name, text) => {
        val t0 = System.nanoTime()
        c.add(1); f.add(name)
        try GridReader.explodeFile(name, text).toSeq finally n.add(System.nanoTime() - t0)
      }
    }
  }

  /** Generate one load and land it in `in/`: the grids of `hours`, plus a
    * half-written grid of another product for the newest hour.
    */
  def stage(st: State, gen: GridGen, rnd: java.util.Random, hours: Seq[Long]): Staged = {
    val vals = hours.map(h => h -> gen.values(h))
    vals.foreach { case (h, v) => st.expected(gen.partition(h)) = (gen.truth(v), gen.localDate(h)) }
    val cut = gen.fileName(hours.last, "IDZ00099")
    st.truncated += ((st.loads, cut))
    val cutRows = 2 + rnd.nextInt(gen.nrows / 4)
    st.pipe.deliver(vals.map { case (h, v) => gen.fileName(h) -> gen.text(v) } :+ (cut -> gen.text(vals.last._2, cutRows)))
    val r0 = rnd.nextInt(gen.nrows - Box)
    val c0 = rnd.nextInt(gen.ncols - Box)
    Staged(hours, r0, c0, boxCells(gen, vals.last._2, r0, r0 + Box - 1, c0, c0 + Box - 1))
  }

  /** Drain a staged load, register its hours and query the newest one.
    * Returns the drain and whole-load (freshness) durations in ms.
    */
  def execute(env: Env, st: State, gen: GridGen, load: Staged, parent: Long,
      parse: Option[CountingParse]): (Double, Double) = {
    val opName = s"load${st.loads}"
    val t = env.tracer
    val p = st.pipe
    val t0 = t.nowMs
    val (_, drainMs) = t.op(st.spark, parent, s"$opName/drain", "streaming", "runAvailableNow") {
      parse match {
        case Some(cp) => Ingest.runAvailableNow(st.spark, p.in.toString, p.serving.toString, p.checkpoint.toString,
          p.archive.toString, p.quarantine.toString, MaxAttempts, cp.fn)
        case None => Ingest.runAvailableNow(st.spark, p.in.toString, p.serving.toString, p.checkpoint.toString,
          p.archive.toString, p.quarantine.toString, MaxAttempts)
      }
    }
    st.loads += 1
    st.cat.createTable(parent, opName, p.serving)
    load.hours.map(gen.partition).distinct.foreach(k => st.cat.addPartition(parent, opName, k))
    val (rows, _) = query(st.spark, t, parent, s"$opName/query", "freshness",
      s"SELECT longitude, latitude, radiation FROM $Db.$Table WHERE ${hourSql(gen.partition(load.hours.last))} " +
        s"AND ${boxSql(gen, load.r0, load.r0 + Box - 1, load.c0, load.c0 + Box - 1)}")
    st.answers += ((s"$opName freshness query", cells(rows), load.want))
    (drainMs, t.nowMs - t0)
  }

  def run(env: Env): RunResult = {
    val gen = new GridGen(env.seed)
    val rnd = new java.util.Random(env.seed)
    val day0 = GridGen.startDay(env.seed)
    def loadHours(k: Int): Seq[Long] = LoadHours.map(day0 + 24L * k + _)
    // each set-up stands up a new pipeline and primes it with a one-grid
    // load of the day before, which also warms the JIT the way a long-lived
    // ingest service is
    val (st, setupS) = setups[(State, Staged), State](env, _.spark) { k =>
      val s = new State(new Pipeline(env.work.resolve(s"ingest$k")))
      (s, stage(s, gen, new java.util.Random(env.seed), loadHours(-1).take(1)))
    } { (k, prepared, spark) =>
      val (s, first) = prepared
      s.spark = spark
      s.cat = new CatalogOps(s.spark, s.pipe.ledgerDir, env.tracer)
      s.cat.createDatabase(0, s"setup$k")
      s.cat.createTable(0, s"setup$k", s.pipe.serving)
      execute(env, s, gen, first, 0, None)
      s
    }
    val t = env.tracer
    t.install(st.spark)
    val parse = if (t.enabled) Some(new CountingParse(st.spark)) else None
    val p = st.pipe
    def retryNames = (p.files(p.in) ++ p.files(p.archive)).map(_.getFileName.toString).filter(_.startsWith("retry")).toSet
    def quarantineRows = p.files(p.quarantine).filter(_.getFileName.toString.endsWith(".json"))
      .map(f => Files.readAllLines(f).asScala.count(_.trim.nonEmpty)).sum
    val before = (p.parquetFiles.size, p.parquetBytes, p.hourDirs, retryNames, p.files(p.archive).size, quarantineRows)
    val ddlBefore = st.cat.times.length
    val pointsBefore = st.expected.values.map(_._1.points).sum
    var day = 0

    val runId = t.reserve()
    t.record(true)
    val runStart = t.nowMs
    env.heap.reset()
    val deadline = System.nanoTime() + env.seconds * 1000000000L
    val drains = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    while (System.nanoTime() < deadline) {
      val staged = stage(st, gen, rnd, loadHours(day))
      day += 1
      Try(execute(env, st, gen, staged, runId, parse)) match {
        case Success((d, f)) => drains += d; fresh += f
        case Failure(e) => failed += 1; errors += s"load ${st.loads}: $e"
      }
    }
    val runEnd = t.nowMs
    t.span(runId, 0, "run", "run", env.workload, runStart, runEnd)
    t.record(false)
    val heapMb = env.heap.peakMb()
    t.drainListeners()
    val loads = drains.length + failed.toInt
    val bytesWritten = p.parquetBytes - before._2
    val pointsWritten = st.expected.values.map(_._1.points).sum - pointsBefore
    val cellsDrained = drains.length.toLong * LoadHours.length * gen.ncols * gen.nrows

    // checks, outside the timed region
    val spark = st.spark
    val mism = mutable.ArrayBuffer.empty[String] ++ errors
    mism ++= Checks.partitions(partitionStats(spark), st.expected.toMap)
    mism ++= Checks.registered(registeredPartitions(spark), st.expected.keySet.toSet)
    val inNames = p.files(p.in).map(_.getFileName.toString).toSet
    val quarantined = if (p.files(p.quarantine).exists(_.toString.endsWith(".json")))
      spark.read.json(p.quarantine.toString).select("file_name", "attempts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    else Map.empty[String, Long]
    mism ++= Checks.redrive(st.truncated.toSeq, st.loads, MaxAttempts, inNames, quarantined)
    mism ++= st.cat.checkLedger(spark)
    val badAnswers = st.answers.toSeq.flatMap { case (label, got, want) => Checks.rows(label, got, want) }
    mism ++= badAnswers
    failed += badAnswers.length

    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(if (fresh.isEmpty) Double.NaN else Stats.median(fresh.toSeq), "ms"),
      "ops_per_s" -> Metric(fresh.length / (fresh.sum / 1000.0), "1/s"),
      "bytes_per_point" -> Metric(bytesWritten.toDouble / math.max(pointsWritten, 1L), "B"))
    val detail = Seq(
      "loads" -> Metric(loads, "count"),
      "live_heap_peak_mb" -> Metric(heapMb, "MB"),
      "ingest_mcells_per_s" -> Metric(cellsDrained / 1e6 / (drains.sum / 1000.0), "Mcells/s"),
      "freshness_p50_s" -> Metric(if (fresh.isEmpty) Double.NaN else Stats.median(fresh.toSeq) / 1000.0, "s"),
      "drain_p50_ms" -> Metric(if (drains.isEmpty) Double.NaN else Stats.median(drains.toSeq), "ms"))

    val layers = if (!t.enabled) Nil else {
      val c = t.counters
      val n = math.max(loads, 1).toDouble
      val parseCalls = parse.map(_.calls.value.toDouble).getOrElse(0.0)
      val distinctFiles = parse.map(_.names.value.asScala.toSet.size.toDouble).getOrElse(0.0)
      val opWall = t.spans.asScala.filter(s => s.parent == runId).map(_.durMs).sum
      val drainWall = drains.sum
      Seq(
        "grid.parse_ms" -> Metric(parse.map(_.nanos.value / 1e6).getOrElse(0.0) / n, "ms"),
        "grid.files_parsed" -> Metric(distinctFiles / n, "count"),
        "grid.cells" -> Metric(cellsDrained / n, "count"),
        "grid.parse_calls_per_file" -> Metric(if (distinctFiles == 0) 0.0 else parseCalls / distinctFiles, "ratio"),
        "grid.points_written" -> Metric(c.getOrElse("grid.points_written", 0.0) / n, "count"),
        "grid.files_written" -> Metric((p.parquetFiles.size - before._1) / n, "count"),
        "grid.bytes_written" -> Metric(bytesWritten / n, "bytes"),
        "grid.partitions_written" -> Metric((p.hourDirs - before._3) / n, "count"),
        "streaming.batches" -> Metric(c.getOrElse("streaming.batches", 0.0) / n, "count"),
        "streaming.trigger_ms" -> Metric(c.getOrElse("streaming.trigger_ms", 0.0) / n, "ms"),
        "streaming.add_batch_ms" -> Metric(c.getOrElse("streaming.add_batch_ms", 0.0) / n, "ms"),
        "streaming.overhead_ms" -> Metric((c.getOrElse("streaming.trigger_ms", 0.0) - c.getOrElse("streaming.add_batch_ms", 0.0)) / n, "ms"),
        "streaming.outside_trigger_ms" -> Metric((drainWall - c.getOrElse("streaming.trigger_ms", 0.0)) / n, "ms"),
        "streaming.files_retried" -> Metric((retryNames -- before._4).size / n, "count"),
        "streaming.files_quarantined" -> Metric((quarantineRows - before._6) / n, "count"),
        "streaming.files_archived" -> Metric((p.files(p.archive).size - before._5) / n, "count")
      ) ++ catalogLayer(loads, st.cat.times.drop(ddlBefore).toSeq) ++ queryLayer(env) ++
        sparkLayer(env, loads, opWall, runEnd - runStart)
    }
    st.spark.stop()
    RunResult(loads, failed, mism.toSeq, e2e, layers, detail)
  }
}

/** serve_pruned: the read side of the table ingest_adhoc writes. The table
  * is built in set-up through the same `Ingest` path, then a seeded mix of
  * point, rollup and history queries runs against the catalog table.
  */
object ServePruned {
  import Common._

  val Hours = 72
  // Quarter-resolution grids (0.2 degree cells) keep the three table builds
  // of set-up inside the run budget while keeping 72 hour partitions.
  def generator(seed: Long) = new GridGen(seed, ncols = 222, nrows = 173, cellsize = 0.2)

  def run(env: Env): RunResult = {
    val gen = generator(env.seed)
    val start = GridGen.startHour(env.seed)
    val hours = (0 until Hours).map(start + _)
    val vals = hours.map(gen.values).toArray
    val grids = hours.zip(vals).map { case (h, v) => gen.fileName(h) -> gen.text(v) }
    val expected = hours.zip(vals).map { case (h, v) => gen.partition(h) -> (gen.truth(v), gen.localDate(h)) }.toMap
    val t = env.tracer

    // full local days in the table, for the 24-partition rollups
    val days = hours.map(gen.partition).groupBy(k => (k.year, k.month, k.day)).filter(_._2.size == 24).keys.toIndexedSeq.sorted
    // one query of `kind` with seeded parameters, and the check of its rows
    def make(kind: String, rnd: java.util.Random): (String, String, Array[Row] => Seq[String]) = kind match {
      case "point" =>
        val i = rnd.nextInt(Hours)
        val size = 8 + rnd.nextInt(17)
        val r0 = rnd.nextInt(gen.nrows - size)
        val c0 = rnd.nextInt(gen.ncols - size)
        val k = gen.partition(hours(i))
        val sql = s"SELECT longitude, latitude, radiation FROM $Db.$Table WHERE ${hourSql(k)} AND ${boxSql(gen, r0, r0 + size - 1, c0, c0 + size - 1)}"
        ("point", sql, rows => Checks.rows(s"point $k", cells(rows), boxCells(gen, vals(i), r0, r0 + size - 1, c0, c0 + size - 1)))
      case "rollup" =>
        val (y, m, d) = days(rnd.nextInt(days.length))
        val sql = s"SELECT hour, count(*), sum(radiation), max(radiation) FROM $Db.$Table WHERE year = $y AND month = $m AND day = $d GROUP BY hour"
        def want = hours.indices.filter { i => val k = gen.partition(hours(i)); (k.year, k.month, k.day) == (y, m, d) }.map { i =>
          val land = vals(i).filter(_ != gen.nodata)
          (gen.partition(hours(i)).hour, land.length.toLong, land.map(_.toLong).sum, land.max)
        }
        ("rollup", sql, rows => Checks.rows(s"rollup $y-$m-$d",
          rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))), want))
      case _ =>
        val band = 2 + rnd.nextInt(3)
        val r0 = rnd.nextInt(gen.nrows - band)
        val sql = s"SELECT longitude, latitude, max(radiation) FROM $Db.$Table WHERE latitude BETWEEN ${gen.lat(r0 + band - 1) - gen.cellsize / 2} AND ${gen.lat(r0) + gen.cellsize / 2} GROUP BY longitude, latitude"
        def want = for {
          r <- r0 until r0 + band
          c <- 0 until gen.ncols
          if gen.land(r * gen.ncols + c)
        } yield (gen.lon(c), gen.lat(r), vals.map(_(r * gen.ncols + c)).max)
        ("history", sql, rows => Checks.rows(s"history rows $r0+$band", cells(rows), want))
    }

    // The mix is dealt in shuffled blocks of 20 (12 point, 5 rollup,
    // 3 history), so every run sees the same shares whatever its seed.
    val rnd = new java.util.Random(env.seed * 1000003L + 17)
    val block = Seq.fill(12)("point") ++ Seq.fill(5)("rollup") ++ Seq.fill(3)("history")
    val shuffler = new scala.util.Random(rnd)
    val deck = Iterator.continually(shuffler.shuffle(block)).flatten
    def next() = make(deck.next(), rnd)

    val ((spark, pipe, cat), setupS) = setups[Pipeline, (SparkSession, Pipeline, CatalogOps)](env, _._1) { k =>
      val pipe = new Pipeline(env.work.resolve(s"serve$k"))
      pipe.deliver(grids)
      pipe
    } { (k, pipe, spark) =>
      val cat = new CatalogOps(spark, pipe.ledgerDir, t)
      Ingest.runAvailableNow(spark, pipe.in.toString, pipe.serving.toString, pipe.checkpoint.toString,
        pipe.archive.toString, pipe.quarantine.toString)
      cat.createDatabase(0, s"setup$k")
      cat.createTable(0, s"setup$k", pipe.serving)
      cat.repair(0, s"setup$k")
      (spark, pipe, cat)
    }
    t.install(spark)

    val runId = t.reserve()
    t.record(true)
    val runStart = t.nowMs
    env.heap.reset()
    val deadline = System.nanoTime() + env.seconds * 1000000000L
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val checks = mutable.ArrayBuffer.empty[() => Seq[String]]
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var n = 0
    while (System.nanoTime() < deadline) {
      val (kind, sql, check) = next()
      Try(query(spark, t, runId, s"q$n", kind, sql)) match {
        case Success((rows, ms)) => lat += kind -> ms; checks += (() => check(rows))
        case Failure(e) => failed += 1; errors += s"q$n $kind: $e"
      }
      n += 1
    }
    val runEnd = t.nowMs
    t.span(runId, 0, "run", "run", env.workload, runStart, runEnd)
    t.record(false)
    val heapMb = env.heap.peakMb()
    t.drainListeners()

    val mism = mutable.ArrayBuffer.empty[String] ++ errors
    val badAnswers = checks.toSeq.map(_())
    failed += badAnswers.count(_.nonEmpty)
    mism ++= badAnswers.flatten
    mism ++= Checks.partitions(partitionStats(spark), expected)
    mism ++= Checks.registered(registeredPartitions(spark), expected.keySet)
    mism ++= cat.checkLedger(spark)

    val all = lat.map(_._2).toSeq
    def p(kind: String, q: Double): Double = {
      val xs = lat.filter(_._1 == kind).map(_._2).toSeq
      if (xs.isEmpty) Double.NaN else Stats.pct(xs, q)
    }
    val points = expected.values.map(_._1.points).sum
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(if (all.isEmpty) Double.NaN else Stats.median(all), "ms"),
      "ops_per_s" -> Metric(all.length / (all.sum / 1000.0), "1/s"),
      "bytes_per_point" -> Metric(pipe.parquetBytes.toDouble / points, "B"))
    val detail = Seq(
      "queries" -> Metric(n, "count"),
      "live_heap_peak_mb" -> Metric(heapMb, "MB"),
      "serve_point_p50_ms" -> Metric(p("point", 50), "ms"),
      "serve_point_p90_ms" -> Metric(p("point", 90), "ms"),
      "serve_rollup_p50_ms" -> Metric(p("rollup", 50), "ms"),
      "serve_history_p50_ms" -> Metric(p("history", 50), "ms"),
      "serve_p95_ms" -> Metric(if (all.isEmpty) Double.NaN else Stats.pct(all, 95), "ms"))
    val layers = if (!t.enabled) Nil else {
      val zero = Seq("grid.parse_ms" -> "ms", "grid.files_parsed" -> "count", "grid.cells" -> "count",
        "grid.parse_calls_per_file" -> "ratio", "grid.points_written" -> "count", "grid.files_written" -> "count",
        "grid.bytes_written" -> "bytes", "grid.partitions_written" -> "count", "streaming.batches" -> "count",
        "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms", "streaming.overhead_ms" -> "ms",
        "streaming.outside_trigger_ms" -> "ms", "streaming.files_retried" -> "count",
        "streaming.files_quarantined" -> "count", "streaming.files_archived" -> "count")
        .map { case (k, u) => k -> Metric(0.0, u) }
      val opWall = t.spans.asScala.filter(s => s.parent == runId).map(_.durMs).sum
      zero ++ catalogLayer(n, Nil) ++ queryLayer(env) ++ sparkLayer(env, n, opWall, runEnd - runStart)
    }
    spark.stop()
    RunResult(n, failed, mism.toSeq, e2e, layers, detail)
  }
}
