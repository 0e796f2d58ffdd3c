package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources._

/** JVM half of the benchmark: one closed-loop client on `local[cores]`
  * running one workload over inputs made by gen.py, timing every op and,
  * in a traced run, every layer call beneath it.
  *
  *   java ... perfbench.Main <workload> <seconds> <trace 0|1> <inputs> <work> <result.json>
  *
  * The result file holds the measured metrics, the op failures and the
  * output checks; run.py turns it into the benchmark's result line.
  */
object Main {
  final case class Failure(op: String, error: String, message: String)
  final case class Check(name: String, ok: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, inputs, work, out) = args
    val b = new Bench(workload, seconds.toDouble, trace == "1", inputs, work)
    val res = try b.run() finally b.stop()
    Files.writeString(Paths.get(out), res)
    b.phase("result written")
  }
}

final class Bench(workload: String, seconds: Double, traced: Boolean,
                  inputs: String, work: String) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  // graft.Bench's session confs; the SQL workload adds the graft catalog
  private val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    val s = (if (workload == "dml_small") b
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Progress line in the JVM log: seconds since JVM start. */
  def phase(name: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s $name")
  private val tracer = new Tracer(traced, spark.sparkContext)

  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[Failure]
  private val checks = mutable.ArrayBuffer.empty[Check]
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val opWall = mutable.ArrayBuffer.empty[Double]
  private val readWall = mutable.ArrayBuffer.empty[Double]
  private val passWall = mutable.ArrayBuffer.empty[Double]
  private val opWalls = mutable.ArrayBuffer.empty[(String, Double)]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val extra = mutable.LinkedHashMap.empty[String, String]

  // ------------------------------------------------------------ heap

  // Young collections leave promoted garbage in the old generation, so the
  // occupancy they report depends on GC timing; a full collection between
  // ops (outside their timing) reads the live heap itself. Spark frees
  // shuffle and broadcast state from weak references on a cleaner thread,
  // so a second collection after a pause counts what that thread released.
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var oldGenPeak = 0L
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    oldGen.foreach(p => oldGenPeak = math.max(oldGenPeak, p.getCollectionUsage.getUsed))
  }

  // ------------------------------------------------------------ ops

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed op. A failure is recorded with the op's name and exception
    * class and counted; the caller learns of it through the None. */
  private def op[T](name: String, into: mutable.ArrayBuffer[Double])(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, "op")(body)
      val wall = secs(t0)
      into += wall
      opWalls += name -> wall
      passAcc += wall
      Some(r)
    } catch {
      case NonFatal(e) =>
        failures += Failure(name, e.getClass.getName, String.valueOf(e.getMessage).take(300))
        System.err.println(s"[perfbench] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  private var passAcc = 0.0
  private def endPass(): Unit = { passWall += passAcc; passAcc = 0.0 }

  private def layer[T](name: String)(body: => T): T = tracer.span(name, "layer")(body)

  /** Set-up done once per run (JIT and codegen warm-up), part of setup_s. */
  private var warmS = 0.0
  private def warmUp(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmS += secs(t0)
  }

  /** Set-up repeated in a run; setup_s takes the median. */
  private def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setups += secs(t0)
    r
  }

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Check(name, ok, if (ok) "" else detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Rows of `a` not in `b` and of `b` not in `a` (multiset difference). */
  private def diffRows(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.exceptAll(b).count(), b.exceptAll(a).count())

  private def treeBytes(root: String, sub: String = ""): (Long, Long) = {
    val p = Paths.get(root, sub)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }

  /** Bytes of `df` written once as compact parquet: the space the live
    * rows need, the base of the amplification ratios. */
  private var compactN = 0
  private def compactBytes(df: DataFrame): Long = {
    compactN += 1
    val p = s"$work/compact-$compactN"
    df.coalesce(1).write.parquet(p)
    treeBytes(p)._1
  }

  /** Run `episode` until `seconds` have passed since the first one began;
    * always at least one, never a partial one. */
  private def timeBoxed(episode: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var e = 0
    while (e == 0 || secs(t0) < seconds) {
      tracer.span(s"pass $e", "pass")(episode(e))
      e += 1
    }
  }

  def run(): String = {
    phase("session ready")
    workload match {
      case "queries"   => queries()
      case "lifecycle" => lifecycle()
      case "dml_small" => dmlSmall()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase("workload done")
    tracer.finish()
    try result() finally phase("trace analysed")
  }

  def stop(): Unit = spark.stop()

  // --------------------------------------------------------- queries

  /** One pass over the engine's entries in name order, each forced with
    * a count; construction, planning and execution are timed apart. The
    * pass takes every bench-only twin and every declared query whose
    * number is a multiple of four: a cold pass over all entries on 4
    * cores is ~50 s of per-query planning and scheduling, more than a run
    * can afford, and every fourth query still samples each family of
    * entries. */
  private def queries(): Unit = {
    val dir = s"$inputs/tables"
    val declared = graft.SparkEntry.queries.filter { case (name, _) =>
      name.drop(1).takeWhile(_.isDigit).toInt % 4 == 0
    }
    val entries = (declared ++ graft.Bench.benchOnly).toSeq.sortBy(_._1)
    val counts = mutable.LinkedHashMap.empty[String, Long]
    def entry(name: String, fn: (SparkSession, String) => DataFrame): Long = {
      val df = layer("engine.construct")(fn(spark, dir))
      val c = df.groupBy().count()
      layer("engine.plan")(c.queryExecution.executedPlan)
      layer("engine.exec")(c.collect().head.getLong(0))
    }
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (_ <- 0 until 3) setup {
      tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
    }
    warmUp(entry(entries.head._1, entries.head._2))
    phase("set-up done")
    tracer.span("pass 0", "pass") {
      entries.zipWithIndex.foreach { case ((name, fn), i) =>
        op(name, opWall)(entry(name, fn)).foreach(n => counts(name) = n)
        if (i % 20 == 19) sampleHeap()
      }
    }
    endPass()
    sampleHeap()
    readWall ++= opWall
    phase("pass done")
    // bench-only twins have no oracle: each count must be non-zero here,
    // and run.py compares it with earlier runs on the same seed
    graft.Bench.benchOnly.keys.toSeq.sorted.foreach { name =>
      val n = counts.getOrElse(name, -1L)
      check(s"twin $name non-zero", n > 0, s"count $n")
    }
    extra("query_counts") = json(counts.map { case (k, v) => k -> v.toString })
    extra("twin_counts") = json(counts.filter(kv => graft.Bench.benchOnly.contains(kv._1))
      .map { case (k, v) => k -> v.toString })
    extra("oracle_sql") = json(graft.SparkEntry.oracleSql.filter(kv => declared.contains(kv._1))
      .map { case (k, v) => k -> str(v) })
  }

  // ------------------------------------------------------- lifecycle

  private val lcKeys = Seq("l_orderkey", "l_linenumber")
  private val lcRules = {
    import Coerce._
    Seq("l_orderkey" -> "bigint", "l_linenumber" -> "int", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double", "l_linestatus" -> "string",
      "l_shipdate" -> "date").map { case (c, t) => Rule(c, Seq(Trim), t) } :+
      Rule("l_returnflag", Seq(Trim, Upper), "string")
  }
  private val lcExpectations = Seq(
    Expectations.drop("quantity_range", col("l_quantity").between(1, 50)),
    Expectations.warn("price_positive", col("l_extendedprice") > 0))

  /** The reference's rebuild: take the newest dated export, coerce and
    * validate it, merge it by key, delete the keys it no longer carries,
    * read the result back, diff the versions and refresh the view. */
  private def lifecycle(): Unit = {
    val src = s"$inputs/lifecycle"
    val expected = J.parse(Files.readString(Paths.get(src, "expected.json")))
    val gens = Files.list(Paths.get(src)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("lineitem-\\d{8}\\.csv")).toSeq.sorted
    val csvSchema = StructType(Seq("l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate").map(StructField(_, StringType)))
    val genBytes = Files.size(Paths.get(src, gens(1)))
    var tableN = 0

    def deliver(inbox: String, g: Int): Unit =
      Files.copy(Paths.get(src, gens(g)), Paths.get(inbox, gens(g)))

    def coerced(inbox: String): (DataFrame, DataFrame) = {
      val path = Sources.latestGeneration(spark, inbox, "lineitem-(\\d{8})\\.csv")
        .getOrElse(throw new IllegalStateException(s"no generation in $inbox"))
      Coerce.coerceWithAudit(Sources.readCsv(spark, path, csvSchema), lcRules)
    }

    /** A fresh table holding generation 0, with its constraint and view. */
    def newTable(): (String, String, String) = {
      tableN += 1
      val root = s"$work/lifecycle/t$tableN"
      val inbox = s"$root-inbox"
      Files.createDirectories(Paths.get(inbox))
      deliver(inbox, 0)
      val (good, _) = coerced(inbox)
      SnapshotLog.commit(spark, root, good, statsCols = Seq("l_orderkey"))
      Constraints.add(spark, root, "flag_domain", "l_returnflag IN ('A', 'N', 'R')")
      IncrementalView.refresh(spark, root, s"$root-view", lcKeys,
        Seq("l_returnflag", "l_linestatus"), "l_quantity")
      (root, s"$root-view", inbox)
    }

    /** One generation's full stage chain; returns the CDC counts. */
    def generation(root: String, view: String, inbox: String, g: Int): Map[String, Long] = {
      val prev = SnapshotLog.currentVersion(spark, root).get
      val (good, bad) = layer("sources.ingest")(coerced(inbox))
      val gated = layer("sources.validate") {
        counters("sources.rows_rejected") += bad.count()
        Expectations.gate(good, lcExpectations)._1
      }
      layer("sources.commit")(SnapshotLog.upsert(spark, root, gated, lcKeys))
      layer("sources.delete") {
        val vanished = SnapshotLog.read(spark, root).select(lcKeys.map(col): _*)
          .join(good.select(lcKeys.map(col): _*), lcKeys, "left_anti")
        SnapshotLog.tombstoneDelete(spark, root, vanished, lcKeys)
      }
      // the new version is read back eight times, as the table's readers
      // would; read_p50_s is the median over every generation's reads. A
      // read is ~0.3 s, so fewer reads leave its median at the mercy of a
      // second or two of host noise
      for (_ <- 0 until 8) {
        val r0 = System.nanoTime()
        layer("sources.read")(SnapshotLog.readPruned(spark, root).count())
        readWall += secs(r0)
      }
      val now = SnapshotLog.currentVersion(spark, root).get
      val cdc = layer("sources.cdc") {
        SnapshotLog.changesBetween(spark, root, prev, now, lcKeys)
          .groupBy("change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      layer("sources.mv")(IncrementalView.refresh(spark, root, view, lcKeys,
        Seq("l_returnflag", "l_linestatus"), "l_quantity"))
      cdc
    }

    // Warm-up: one base-table load and one generation on a throwaway table.
    // Without it the timed generations are the first to JIT-compile and
    // codegen the stage chain, and their walls and reads vary from run to
    // run by more than the benchmark's bounds. The warm-up is part of
    // setup_s and leaves no samples. Each episode then starts by loading
    // its own base table, which is its set-up sample.
    warmUp {
      val (root, view, inbox) = newTable()
      deliver(inbox, 1)
      generation(root, view, inbox, 1)
      readWall.clear()
      counters.clear()
    }
    phase("set-up done")

    val nGen = gens.size - 1
    timeBoxed { e =>
      val (root, view, inbox) = setup(newTable())
      val before = treeBytes(root)
      var ok = true
      val cdcs = (1 to nGen).map { g =>
        deliver(inbox, g)
        val r = if (ok) op(s"generation $g", opWall)(generation(root, view, inbox, g)) else None
        ok &&= r.isDefined
        sampleHeap()
        r
      }
      endPass()
      val after = treeBytes(root)
      counters("sources.bytes_written") += after._1 - before._1
      counters("sources.files_written") += after._2 - before._2
      counters("sources.log_bytes") += treeBytes(root, "_graft_log")._1
      counters("sources.versions") += SnapshotLog.currentVersion(spark, root).get
      // outputs: table == last generation, view == fresh aggregate,
      // CDC counts == the generator's
      val table = SnapshotLog.read(spark, root)
      val compact = compactBytes(table)
      counters("sources.compact_bytes") += compact
      counters("sources.space_bytes") += after._1
      counters("sources.input_bytes") += genBytes * nGen
      val got = table.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").cast("int").as("l_quantity"),
        round(col("l_extendedprice") * 100).cast("bigint").as("l_extendedprice_cents"),
        round(col("l_discount") * 100).cast("int").as("l_discount_pct"),
        round(col("l_tax") * 100).cast("int").as("l_tax_pct"),
        col("l_returnflag"), col("l_linestatus"),
        datediff(col("l_shipdate"), lit("1970-01-01").cast("date")).as("l_shipdate_days"))
      val want = spark.read.parquet(s"$src/expected_final.parquet").select(got.columns.map(col): _*)
      val (extraRows, missingRows) = diffRows(got, want)
      check(s"episode $e table == last generation", ok && extraRows == 0 && missingRows == 0,
        s"ops ok=$ok, $extraRows unexpected rows, $missingRows missing rows")
      val fresh = table.groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(38,6)")).cast("decimal(38,6)").as("sum_l_quantity"))
      val mv = SnapshotLog.read(spark, view).select(fresh.columns.map(col): _*)
      val (mvExtra, mvMissing) = diffRows(mv, fresh)
      check(s"episode $e view == fresh aggregate", mvExtra == 0 && mvMissing == 0,
        s"$mvExtra unexpected rows, $mvMissing missing rows")
      cdcs.zipWithIndex.foreach { case (got, i) =>
        val w = expected("changes")(i)
        val want = Seq("insert", "update", "delete").map(k => k -> w(k).toString.toLong).toMap
        check(s"episode $e generation ${i + 1} CDC counts",
          got.exists(c => want.forall { case (k, n) => c.getOrElse(k, 0L) == n }),
          s"got $got, want $want")
      }
    }
  }

  // ------------------------------------------------------- dml_small

  /** Small keyed SQL statements against a graft-catalog table, each
    * followed by point reads. Every episode replays the generated stream
    * on a fresh copy of the base table, so the log grows the same way in
    * every episode. */
  private def dmlSmall(): Unit = {
    val src = s"$inputs/dml"
    val stream = Files.readAllLines(Paths.get(src, "stream.jsonl")).asScala.map(J.parse).toSeq
    spark.read.parquet(s"$src/base.parquet").createOrReplaceTempView("base")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    val srcSchema = StructType(Seq(StructField("k", LongType), StructField("grp", IntegerType),
      StructField("qty", LongType), StructField("v", StringType)))
    var tableN = 0
    def newTable(): String = {
      tableN += 1
      val t = s"graft.bench.t$tableN"
      spark.sql(s"CREATE TABLE $t (k BIGINT, grp INT, qty BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $t SELECT k, grp, qty, v FROM base")
      t
    }
    def keyList(st: J): String = st("keys").arr.map(_.toString).mkString(",")

    /** Runs statement `st`; a read returns its row, DML returns null. */
    def statement(t: String, st: J): Seq[Any] = st("op").toString match {
      case "merge" =>
        val rows = st("rows").arr.map { r =>
          val a = r.arr
          Row(a(0).toString.toLong, a(1).toString.toInt, a(2).toString.toLong, a(3).toString)
        }
        spark.createDataFrame(rows.asJava, srcSchema).createOrReplaceTempView("src")
        layer("sql.merge")(spark.sql(
          s"""MERGE INTO $t t USING src s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET grp = s.grp, qty = s.qty, v = s.v
             |WHEN NOT MATCHED THEN INSERT (k, grp, qty, v) VALUES (s.k, s.grp, s.qty, s.v)
             |""".stripMargin))
        null
      case "update" =>
        layer("sql.update")(spark.sql(
          s"UPDATE $t SET qty = qty + ${st("delta")} WHERE k IN (${keyList(st)})"))
        null
      case "delete" =>
        layer("sql.delete")(spark.sql(s"DELETE FROM $t WHERE k IN (${keyList(st)})"))
        null
      case "read" =>
        layer("sources.read")(spark.sql(
          s"SELECT k, grp, qty, v FROM $t WHERE k = ${st("key")}").collect())
          .headOption.map(_.toSeq).orNull
    }

    // set-up: a first table (base-table load) warmed by one untimed
    // statement of each kind, as a long-lived session would be; then each
    // episode loads its own table. Every table load is a set-up sample.
    val warm = setup(newTable())
    warmUp(Seq("merge", "update", "delete", "read").foreach(k =>
      statement(warm, stream.find(_("op").toString == k).get)))
    phase("set-up done")

    val nStmt = stream.count(_("op").toString != "read")
    timeBoxed { e =>
      val t = setup(newTable())
      val root = s"$work/warehouse/bench/${t.stripPrefix("graft.bench.")}"
      val before = treeBytes(root)
      var ok = true
      val reads = mutable.ArrayBuffer.empty[(J, Seq[Any])]
      stream.zipWithIndex.foreach { case (st, i) =>
        val kind = st("op").toString
        if (ok) {
          val r = op(s"$kind $i", if (kind == "read") readWall else opWall)(statement(t, st))
          ok &&= r.isDefined
          if (kind == "read") r.foreach(row => reads += ((st, row)))
        }
        if (i % 9 == 8) sampleHeap()
      }
      endPass()
      val after = treeBytes(root)
      counters("sources.bytes_written") += after._1 - before._1
      counters("sources.files_written") += after._2 - before._2
      counters("sources.log_bytes") += treeBytes(root, "_graft_log")._1
      counters("sources.versions") += SnapshotLog.currentVersion(spark, root).get
      counters("sql.statements") += nStmt
      // outputs: every point read and the final table match the model
      val badReads = reads.filterNot { case (st, row) =>
        val want = st("expect")
        if (want.isNull) row == null
        else row != null && want.arr.map(_.toString) == row.map(_.toString)
      }
      check(s"episode $e point reads", ok && badReads.isEmpty,
        s"ops ok=$ok, ${badReads.size} reads differ, first ${badReads.headOption}")
      val table = spark.table(t)
      val compact = compactBytes(table)
      counters("sources.compact_bytes") += compact
      counters("sources.space_bytes") += after._1
      val rowsFinal = table.count()
      val touched = stream.filter(_("op").toString != "read").map(st =>
        if (st("op").toString == "merge") st("rows").arr.size else st("keys").arr.size).sum
      counters("sources.input_bytes") += compact.toDouble / math.max(rowsFinal, 1) * touched
      val want = spark.read.parquet(s"$src/expected_final.parquet")
      val (extraRows, missingRows) = diffRows(table.select("k", "grp", "qty", "v"), want)
      check(s"episode $e table == model", ok && extraRows == 0 && missingRows == 0,
        s"ops ok=$ok, $extraRows unexpected rows, $missingRows missing rows")
    }
  }

  // ---------------------------------------------------------- result

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def result(): String = {
    val passes = passWall.size.toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("session_s") = sessionS
    m("setup_median_s") = median(setups.toSeq)
    m("warmup_s") = warmS
    m("op_p50_s") = median(opWall.toSeq)
    m("op_p90_s") = quantile(opWall.toSeq, 0.9)
    m("read_p50_s") = median(readWall.toSeq)
    m("pass_s") = median(passWall.toSeq)
    m("live_heap_peak_mb") = oldGenPeak / 1048576.0
    m("ops") = opWall.size
    m("reads") = readWall.size
    m("passes") = passes
    val c = counters
    val written = c("sources.bytes_written")
    m("sources.bytes_written") = written / passes
    m("sources.files_written") = c("sources.files_written") / passes
    m("sources.log_bytes") = c("sources.log_bytes") / passes
    m("sources.versions") = c("sources.versions") / passes
    m("sources.rows_rejected") = c("sources.rows_rejected") / passes
    m("sources.write_amp") = if (c("sources.input_bytes") > 0) written / c("sources.input_bytes") else 0.0
    m("sources.space_amp") =
      if (c("sources.compact_bytes") > 0) c("sources.space_bytes") / c("sources.compact_bytes") else 0.0
    m("sql.bytes_written_per_stmt") =
      if (c("sql.statements") > 0) written / c("sql.statements") else 0.0
    if (traced) {
      m ++= layerMetrics(passes, c("sources.compact_bytes") / math.max(passes, 1))
      extra("spans") = spansJson()
    }
    val fails = failures.map(f => json(Map("op" -> str(f.op), "error" -> str(f.error),
      "message" -> str(f.message))))
    val chk = checks.map(k => json(Map("name" -> str(k.name), "ok" -> k.ok.toString,
      "detail" -> str(k.detail))))
    json(mutable.LinkedHashMap(
      "workload" -> str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> fails.mkString("[", ",", "]"),
      "checks" -> chk.mkString("[", ",", "]"),
      "metrics" -> json(m.map { case (k, v) => k -> num(v) }),
      "op_walls" -> opWalls.map { case (k, v) => s"[${str(k)},${num(v)}]" }.mkString("[", ",", "]")) ++ extra)
  }

  /** Per-layer metrics from the trace, per pass. */
  private def layerMetrics(passes: Double, liveBytes: Double): Map[String, Double] = {
    val t = tracer
    val all = t.spans.filter(_.end >= 0).toSeq
    val ops = all.filter(_.kind == "op")
    val opIds = ops.map(_.id).toSet
    val layers = all.filter(s => s.kind == "layer" && opIds.contains(s.parent))
    def jobsUnder(ss: Seq[Span]): Seq[Span] =
      ss.flatMap(s => t.descendants(s)).filter(_.kind == "job")
    val byLayer = layers.groupBy(_.name)
    def layerS(n: String): Double = byLayer.getOrElse(n, Nil).map(_.dur).sum / 1e9 / passes
    def layerJobs(n: String): Seq[Span] = jobsUnder(byLayer.getOrElse(n, Nil))
    val jobs = jobsUnder(ops)
    val stages = t.stagesOf(jobs)
    val stats = stages.flatMap(t.statsOf)
    def sumS(f: StageStats => Long) = stats.map(f).sum.toDouble
    val taskS = sumS(_.runMs) / 1e3
    // execution wall: per op, the union of its jobs' intervals; the part
    // of it no stage covers is scheduling gap
    var execNs = 0L
    var gapNs = 0L
    for (o <- ops) {
      val js = jobsUnder(Seq(o))
      val jobIv = js.map(j => (j.start, j.end))
      val jobCov = t.covered(jobIv, o.start, o.end)
      val stIv = t.stagesOf(js).map(s => (s.start, s.end))
      execNs += jobCov
      gapNs += jobCov - t.covered(stIv, o.start, o.end)
    }
    val execS = execNs / 1e9
    val opWallS = ops.map(_.dur).sum / 1e9
    val uncoveredS = ops.map(t.selfTime).sum / 1e9
    val sqlLayers = Seq("sql.merge", "sql.update", "sql.delete")
    val stmts = sqlLayers.map(n => byLayer.getOrElse(n, Nil).size).sum
    val reads = byLayer.getOrElse("sources.read", Nil)
    val readInput = t.stagesOf(jobsUnder(reads)).flatMap(t.statsOf).map(_.input).sum.toDouble
    Map(
      "engine.construct_s" -> layerS("engine.construct"),
      "engine.construct_jobs" -> layerJobs("engine.construct").size / passes,
      "engine.plan_s" -> layerS("engine.plan"),
      "engine.exec_s" -> layerS("engine.exec"),
      "exec.jobs" -> jobs.size / passes,
      "exec.stages" -> stages.size / passes,
      "exec.tasks" -> sumS(_.tasks) / passes,
      "exec.stage_gap_s" -> gapNs / 1e9 / passes,
      "exec.core_idle_s" -> (cores * execS - taskS) / passes,
      "exec.busy_frac" -> (if (execS > 0) taskS / (cores * execS) else 0.0),
      "exec.task_s" -> taskS / passes,
      "exec.task_cpu_s" -> sumS(_.cpuNs) / 1e9 / passes,
      "exec.gc_s" -> sumS(_.gcMs) / 1e3 / passes,
      "exec.shuffle_read_bytes" -> sumS(_.shuffleRead) / passes,
      "exec.shuffle_write_bytes" -> sumS(_.shuffleWrite) / passes,
      "exec.input_bytes" -> sumS(_.input) / passes,
      "exec.spill_bytes" -> sumS(_.spill) / passes,
      "exec.failed_tasks" -> sumS(_.failedTasks) / passes,
      "sources.ingest_s" -> layerS("sources.ingest"),
      "sources.validate_s" -> layerS("sources.validate"),
      "sources.commit_s" -> layerS("sources.commit"),
      "sources.delete_s" -> layerS("sources.delete"),
      "sources.cdc_s" -> layerS("sources.cdc"),
      "sources.mv_s" -> layerS("sources.mv"),
      "sources.read_s" -> layerS("sources.read"),
      "sources.commit_jobs" -> layerJobs("sources.commit").size / passes,
      "sources.read_amp" ->
        (if (reads.nonEmpty && liveBytes > 0) readInput / reads.size / liveBytes else 0.0),
      "sql.merge_s" -> layerS("sql.merge"),
      "sql.update_s" -> layerS("sql.update"),
      "sql.delete_s" -> layerS("sql.delete"),
      "sql.jobs_per_stmt" ->
        (if (stmts > 0) sqlLayers.map(n => layerJobs(n).size).sum.toDouble / stmts else 0.0),
      "trace.layer_self_s" -> layers.map(t.selfTime).sum / 1e9 / passes,
      "trace.op_wall_s" -> opWallS / passes,
      "trace.uncovered_s" -> uncoveredS / passes,
      "trace.uncovered_frac" -> (if (opWallS > 0) uncoveredS / opWallS else 0.0),
      "trace.spans" -> all.size / passes)
  }

  /** Every span, as [id, parent, kind, name, start ms, duration ms, self
    * ms], times relative to the first span; task totals ride on stages. */
  private def spansJson(): String = {
    val all = tracer.spans.filter(_.end >= 0).toSeq
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    all.map { s =>
      val base = Seq(s.id.toString, s.parent.toString, str(s.kind), str(s.name),
        num((s.start - t0) / 1e6), num(s.dur / 1e6), num(tracer.selfTime(s) / 1e6))
      val st = if (s.kind == "stage") tracer.statsOf(s).map(x => Seq(json(Map(
        "tasks" -> x.tasks.toString, "task_ms" -> x.runMs.toString,
        "cpu_ms" -> (x.cpuNs / 1000000).toString, "gc_ms" -> x.gcMs.toString,
        "input_bytes" -> x.input.toString, "shuffle_read_bytes" -> x.shuffleRead.toString,
        "shuffle_write_bytes" -> x.shuffleWrite.toString)))).getOrElse(Nil) else Nil
      (base ++ st).mkString("[", ",", "]")
    }.mkString("[", ",", "]")
  }

  // ------------------------------------------------------------ json

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def json(kv: scala.collection.Map[String, String]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

}

/** Read-only view of a parsed JSON value (inputs written by gen.py). */
final case class J(v: org.json4s.JValue) {
  import org.json4s._
  def apply(k: String): J = J(v \ k)
  def apply(i: Int): J = arr(i)
  def arr: Seq[J] = v match {
    case JArray(a) => a.map(J(_))
    case _ => Nil
  }
  def isNull: Boolean = v == JNull || v == JNothing
  override def toString: String = v match {
    case JString(s) => s
    case JInt(i) => i.toString
    case JLong(l) => l.toString
    case JDouble(d) => d.toString
    case JBool(b) => b.toString
    case JNull | JNothing => "null"
    case other => org.json4s.jackson.JsonMethods.compact(other)
  }
}

object J {
  def parse(s: String): J = J(org.json4s.jackson.JsonMethods.parse(s))
}
