package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.{Ingest, JdbcSink, LoadAudit}

/** Closed-loop driver for one benchmark run: one driver thread issues
  * the next operation only after the previous one returned. It writes
  * raw measurements (and, when tracing, raw listener records) to the
  * JSON file named in the config; run.py turns them into metrics.
  *
  * Usage: perfbench.Harness <config.json>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val cfg = Json.read(args(0))
    val h = new Harness(cfg)
    val out = try h.run() finally h.stop()
    Json.write(cfg.get("out").asText(), out)
  }

  /** Order-independent digest of collected rows: equal result sets give
    * equal digests whatever order the engine returned them in. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** (rows, xor of per-row xxhash64) over every column in name order,
    * each hashed with its null flag. The benchmark's own content check,
    * computed the same way on the landed and on the expected side. */
  def content(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => struct(col(c).isNull, col(c))).toIndexedSeq
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Every column cast to string under a lower-case name: the form in
    * which a JDBC round trip can be compared with what was landed. */
  def asText(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c.toLowerCase)).toIndexedSeq: _*)

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Runtime.getRuntime.totalMemory() / 1048576.0
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

final class Harness(cfg: JsonNode) {
  import Harness._

  private val workload = cfg.get("workload").asText()
  private val kind = cfg.get("kind").asText()
  private val trace = cfg.get("trace").asBoolean()
  private val cores = cfg.get("cores").asInt()
  private val sf = cfg.get("sf_dir").asText()
  private val work = cfg.get("work_dir").asText()
  private val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  private var spark: SparkSession = _

  def stop(): Unit = if (spark != null) spark.stop()

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[QeProbe].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace) s.sparkContext.addSparkListener(new JobProbe)
    s
  }

  private val setupParts = mutable.ArrayBuffer.empty[Double]

  /** Set-up from JVM start: a session, then `warm` on it. Returns the
    * instant it ended; `setup_s` runs from JVM start to the first timed
    * operation, so it also holds any warm-up done after this. */
  private def setup(warm: SparkSession => Unit): Long = {
    spark = session()
    val t1 = Clock.nowUs()
    warm(spark)
    val t2 = Clock.nowUs()
    setupParts ++= Seq(t1 - jvmStartUs, t2 - t1).map(_ / 1e6)
    t2
  }

  private def tag(op: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.op", op)
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)
  }

  private def errText(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.take(2).mkString(" | ").take(400)

  def run(): Map[String, Any] = {
    val body = kind match {
      case "query" => runQueries()
      case "ingest" => runIngest()
      case other => throw new IllegalArgumentException(s"unknown workload kind $other")
    }
    body ++ Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_parts_s" -> setupParts.toSeq,
      "trace_records" -> (if (trace) Trace.dump() else null))
  }

  // ---------------------------------------------------------------- queries

  private def runQueries(): Map[String, Any] = {
    val keys = Json.strings(cfg.get("keys"))
    val all = graft.SparkEntry.queries
    val fns = keys.map(k => k -> all(k)).toMap
    val tables = Json.strings(cfg.get("tables"))
    val orders = cfg.get("orders").elements().asScala.map(Json.strings).toVector
    val passes = cfg.get("passes").asInt()
    val warmOrders = cfg.get("warm_orders").elements().asScala.map(Json.strings).toVector
    val known = Json.strings(cfg.get("known")).toSet

    // set-up resolves the tables, then untimed passes warm code
    // generation, the JIT and the session; a key that throws here throws
    // again in the timed passes, where it is counted as failed
    val s2 = setup { s =>
      tables.foreach { t =>
        if (t == "events") graft.Tables.events(s, sf).count()
        else s.read.parquet(s"$sf/$t.parquet").count()
      }
    }
    for (order <- warmOrders) {
      order.foreach(k => try fns(k)(spark, sf).collect() catch { case _: Exception => })
      spark.catalog.clearCache()
    }

    val kept = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    Recorder.enabled = trace
    val t0 = Clock.nowUs()
    setupParts += (t0 - s2) / 1e6
    for (pass <- 1 to passes) {
      if (pass > 1) spark.catalog.clearCache()
      for (key <- orders(pass - 1)) {
        val id = s"q${ops.size}"
        tag(id, "construct")
        val s0 = Clock.nowUs()
        var split = -1L
        var rows: Array[Row] = null
        var schema: StructType = null
        var err: String = null
        try {
          val df = fns(key)(spark, sf)
          split = Clock.nowUs()
          tag(id, "exec")
          rows = df.collect()
          schema = df.schema
        } catch { case e: Throwable => err = errText(e) }
        val s1 = Clock.nowUs()
        tag(null, null)
        val hash = if (rows == null) null else digest(rows)
        if (hash != null && !known(s"$key|$hash") && !kept.contains(s"$key|$hash"))
          kept(s"$key|$hash") = (schema, rows)
        ops += Map("id" -> id, "kind" -> "query", "key" -> key, "pass" -> pass,
          "start_us" -> s0, "split_us" -> split, "end_us" -> s1, "ok" -> (err == null),
          "error" -> err, "rows" -> (if (rows == null) -1 else rows.length), "hash" -> hash)
      }
    }
    val windowS = (Clock.nowUs() - t0) / 1e6
    if (trace) Recorder.drain(spark)
    Recorder.enabled = false
    val rss = peakRssMb()

    // results the checker has not seen yet, for the oracle comparison
    val dumped = kept.toSeq.map { case (kh, (schema, rows)) =>
      val dir = s"$work/results/${kh.replace('|', '@')}"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      Map("key_hash" -> kh, "dir" -> dir)
    }
    Map("workload" -> workload, "setup_s" -> (t0 - jvmStartUs) / 1e6, "window_s" -> windowS,
      "passes" -> passes, "ops" -> ops.toSeq,
      "dumped" -> dumped, "peak_rss_mb" -> rss,
      "oracle_sql" -> keys.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _)).toMap)
  }

  // ----------------------------------------------------------------- ingest

  private def pgType(t: String): DataType = t.trim.toLowerCase match {
    case "bigint" => LongType
    case "integer" => IntegerType
    case "double precision" => DoubleType
    case "numeric" => DecimalType(18, 4)
    case "timestamp" => TimestampType
    case _ => StringType
  }

  private def schemaOf(manifest: JsonNode): StructType = StructType(
    manifest.elements().asScala.map { c =>
      StructField(c.get(0).asText(), pgType(c.get(1).asText()), nullable = true)
    }.toSeq)

  private def applyAction(a: JsonNode): Unit = {
    val op = a.get(0).asText()
    val p = Paths.get(a.get(1).asText())
    op match {
      case "move" =>
        val dst = Paths.get(a.get(2).asText())
        Files.createDirectories(dst.getParent)
        Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
      case "copy" =>
        val dst = Paths.get(a.get(2).asText())
        Files.createDirectories(dst.getParent)
        Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      case other => throw new IllegalArgumentException(s"unknown upload action $other")
    }
  }

  private def listing(root: String): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return Nil
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => r.relativize(f).toString).toSeq.sorted
    finally s.close()
  }

  private def ingestConf(root: String): Ingest.Config = Ingest.Config(
    uploadDir = s"$root/upload", lakeDir = s"$root/lake",
    archiveDir = s"$root/archive", errorDir = s"$root/error",
    dedupKeys = Seq("id"), fullRefreshTables = Set("dims"))

  private val derbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

  /** Land dims by stage-and-swap and `slice` by append into Derby;
    * returns the landed frames by table. */
  private def landJdbc(url: String, dims: DataFrame, slice: DataFrame): Seq[(String, DataFrame)] = {
    def c(t: String) = JdbcSink.Config(url = url, table = t, driver = derbyDriver,
      numPartitions = cores)
    JdbcSink.loadStage(dims, c("dims"))
    // the Greenplum swap DDL replayed in Derby's dialect, one transaction
    val cx = java.sql.DriverManager.getConnection(url)
    try {
      cx.setAutoCommit(false)
      val st = cx.createStatement()
      if (cx.getMetaData.getTables(null, null, "DIMS", null).next()) st.execute("DROP TABLE DIMS")
      st.execute(s"RENAME TABLE ${JdbcSink.stageTable("dims").toUpperCase} TO DIMS")
      cx.commit()
    } finally {
      try cx.rollback() catch { case _: Throwable => }
      cx.close()
    }
    JdbcSink.appendInto(slice, c("metrics"))
    Seq("DIMS" -> dims, "METRICS" -> slice)
  }

  private def readJdbc(url: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .option("driver", derbyDriver).load()

  private def runIngest(): Map[String, Any] = {
    val plan = Json.read(cfg.get("plan").asText())
    val warmTemplate = plan.get("warmup_dir").asText()
    val sliceMod = plan.get("jdbc_slice_mod").asLong()

    // warm-up ticks on a lake of their own, then its audit and landing
    val s2 = setup { s =>
      val root = s"$work/warm"
      val conf = ingestConf(root)
      val byTick = listing(warmTemplate).groupBy(_.takeWhile(_ != '/'))
      byTick.keys.toSeq.sortBy(_.toInt).foreach { k =>
        byTick(k).foreach { f =>
          val dst = Paths.get(s"$root/upload/${f.drop(k.length + 1)}")
          Files.createDirectories(dst.getParent)
          Files.copy(Paths.get(warmTemplate, f), dst, StandardCopyOption.REPLACE_EXISTING)
        }
        Ingest.run(s, conf)
      }
      LoadAudit.audit(Ingest.readLake(s, conf, "metrics"))
      val url = "jdbc:derby:memory:warm;create=true"
      val dims = Ingest.readLake(s, conf, "dims")
      landJdbc(url, dims, Ingest.readLake(s, conf, "metrics").filter(col("id") % sliceMod === 0))
      readJdbc(url, "DIMS").count()
    }

    val root = s"$work/ingest"
    val conf = ingestConf(root)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    Recorder.enabled = trace
    val t0 = Clock.nowUs()
    setupParts += (t0 - s2) / 1e6
    plan.get("ticks").elements().asScala.zipWithIndex.foreach { case (tick, i) =>
      tick.get("before").elements().asScala.foreach(applyAction)
      val id = s"t$i"
      tag(id, "tick")
      val s0 = Clock.nowUs()
      var err: String = null
      val reports =
        try Ingest.run(spark, conf)
        catch { case e: Throwable => err = errText(e); Nil }
      val s1 = Clock.nowUs()
      tag(null, null)
      ops += Map("id" -> id, "kind" -> "tick", "key" -> s"tick$i", "start_us" -> s0,
        "end_us" -> s1, "ok" -> (err == null), "error" -> err,
        "reports" -> reports.map { r =>
          Map("table" -> r.table, "files" -> r.files.map(f => new org.apache.hadoop.fs.Path(f).getName),
            "loaded" -> r.loaded, "rejected" -> r.rejected,
            "evolved" -> r.evolvedColumns, "failed" -> r.failed.orNull)
        },
        "upload" -> listing(conf.uploadDir), "archive" -> listing(conf.archiveDir))
    }

    // audit: the importer's own verification over the finished lake
    val aId = "audit"
    tag(aId, "audit")
    val a0 = Clock.nowUs()
    var aErr: String = null
    val audits = mutable.LinkedHashMap.empty[String, Seq[Long]]
    try Seq("metrics", "dims").foreach { t =>
      val a = LoadAudit.audit(Ingest.readLake(spark, conf, t))
      audits(t) = Seq(a.nRows, a.checksum)
    } catch { case e: Throwable => aErr = errText(e) }
    val a1 = Clock.nowUs()
    tag(null, null)

    // JDBC: dims by stage-and-swap, a fixed metrics slice by append
    val jId = "jdbc"
    val url = "jdbc:derby:memory:perfbench;create=true"
    tag(jId, "jdbc")
    val j0 = Clock.nowUs()
    var jErr: String = null
    var landed: Seq[(String, DataFrame)] = Nil
    try {
      landed = landJdbc(url, Ingest.readLake(spark, conf, "dims"),
        Ingest.readLake(spark, conf, "metrics").filter(col("id") % sliceMod === 0))
    } catch { case e: Throwable => jErr = errText(e) }
    val j1 = Clock.nowUs()
    tag(null, null)
    if (trace) Recorder.drain(spark)
    Recorder.enabled = false
    val rss = peakRssMb()

    // the checks' own Spark work, after the last timed operation
    val expected = plan.get("expected").fields().asScala.map { e =>
      val t = e.getKey
      val df = spark.read.schema(schemaOf(e.getValue.get("manifest")))
        .option("header", "true").option("mode", "FAILFAST")
        .csv(e.getValue.get("csv").asText())
      val (n, cs) = content(df)
      t -> Seq(n, cs)
    }.toMap
    ops += Map("id" -> aId, "kind" -> "audit", "key" -> "audit", "start_us" -> a0,
      "end_us" -> a1, "ok" -> (aErr == null), "error" -> aErr,
      "audit" -> audits.toMap, "expected" -> expected)
    val jdbcCheck = landed.map { case (t, df) =>
      t -> Map("landed" -> content(asText(df)).productIterator.toSeq,
        "read_back" -> content(asText(readJdbc(url, t))).productIterator.toSeq)
    }.toMap
    ops += Map("id" -> jId, "kind" -> "jdbc", "key" -> "jdbc", "start_us" -> j0,
      "end_us" -> j1, "ok" -> (jErr == null), "error" -> jErr, "check" -> jdbcCheck)
    val lakeFiles = listing(conf.lakeDir).filter(_.endsWith(".parquet"))
    val lakeBytes = lakeFiles.map(f => Files.size(Paths.get(conf.lakeDir, f))).sum
    Map("workload" -> workload, "setup_s" -> (t0 - jvmStartUs) / 1e6, "window_s" -> (j1 - t0) / 1e6,
      "passes" -> 1, "ops" -> ops.toSeq, "peak_rss_mb" -> rss,
      "lake_files" -> lakeFiles.size, "lake_bytes" -> lakeBytes)
  }
}
