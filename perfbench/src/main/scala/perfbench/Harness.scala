package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Sinks, Snapshots, Tables}

/** Executes one benchmark plan against the engine's public entry points
  * (`SparkEntry.queries`, `Tables.t`, `Sinks`, `Snapshots`, the
  * `graft.expressions` kernels) and writes raw records as JSON lines.
  *
  * Usage: Harness <plan.tsv> <records.jsonl>
  *
  * The plan (written by run.py) holds `conf` lines, `check` lines (untimed
  * output fingerprints) and `op` lines (timed operations, in order). All
  * arithmetic over the records — percentiles, self times, checks — is done
  * by run.py; this program only runs and records. Records are kept in
  * memory and written when the plan is done.
  */
object Harness {
  private val records = mutable.ArrayBuffer.empty[String]
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L

  /** Wall clock in epoch microseconds, monotonic within the run. */
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def main(args: Array[String]): Unit = {
    val lines = scala.io.Source.fromFile(args(0), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1).toIndexedSeq).toIndexedSeq
    val conf = lines.collect { case Seq("conf", k, v) => k -> v }.toMap
    val cpus = conf("cpus").toInt
    val work = conf("work")
    val data = conf("data")

    // set-up is counted from JVM start
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = session(cpus, work)
    warmUp(spark, data)
    rec("setup", "s" -> (nowUs - jvmStartUs) / 1e6)
    val sc = spark.sparkContext
    rec("env", "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "cpus" -> cpus, "default_parallelism" -> sc.defaultParallelism)

    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    rec("registry", "names" -> queries.keys.toSeq.sorted, "oracle" -> oracle.keys.toSeq.sorted)
    // `dump`: also write each checked result as parquet, with the oracle
    // SQL beside it, in the layout tools/parity.py compares
    val dump = conf.get("dump")
    val checked = lines.collect { case Seq("check", id, name, dir) =>
      try {
        val df = queries(name)(spark, dir)
        dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
        val (rows, fp) = fingerprint(df)
        rec("check", "id" -> id, "name" -> name, "ok" -> true, "rows" -> rows, "fp" -> fp)
      } catch {
        case e: Throwable =>
          rec("check", "id" -> id, "name" -> name, "ok" -> false, "err" -> msg(e))
      }
      name
    }
    dump.foreach { d =>
      val sql = oracle.filter { case (k, _) => checked.contains(k) }
      java.nio.file.Files.write(new File(s"$d/oracle_sql.json").toPath,
        mapper.writeValueAsBytes(ListMap(sql.toSeq.sortBy(_._1): _*)))
    }

    // [t0, t1] is the operation; [w0, w1] adds what tracing costs around
    // it, so traced and untraced operations compare on w1 - w0
    val tracer = new Tracer(spark)
    lines.collect { case Seq("op", mode, id, kind, rest @ _*) =>
      val traced = mode == "t"
      val w0 = nowUs
      if (traced) tracer.begin(id)
      val spans = new Spans
      val vals = mutable.LinkedHashMap.empty[String, Any]
      val t0 = nowUs
      var built: Option[DataFrame] = None
      val err: Option[String] =
        try { built = runOp(spark, queries, kind, rest, spans, vals); None }
        catch { case e: Throwable => Some(msg(e)) }
      val t1 = nowUs
      val traceFields: Seq[(String, Any)] =
        if (traced) tracer.end(id, spans.buf.toSeq, built.map(_.queryExecution)) else Nil
      val w1 = nowUs
      afterOp(spark, kind, rest, vals)
      rec("op", (Seq[(String, Any)]("id" -> id, "mode" -> mode, "kind" -> kind,
        "name" -> (if (kind == "query") rest.head else kind),
        "w0" -> w0, "t0" -> t0, "t1" -> t1, "w1" -> w1, "ok" -> err.isEmpty,
        "err" -> err.orNull, "vals" -> vals.toMap) ++ traceFields): _*)
    }

    if (conf.get("trace").contains("1")) {
      resolveProbe(spark, data)
      Kernels.run(spark, data).foreach { case (name, n, ns, problem) =>
        rec("kernel", "name" -> name, "n" -> n, "ns" -> ns,
          "ok" -> problem.isEmpty, "err" -> problem.orNull)
      }
    }

    rec("end", "heap_mb" -> retainedHeap() / 1048576.0)
    spark.stop()
    java.nio.file.Files.write(new File(args(1)).toPath,
      records.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Heap used after a full GC once the session is idle. Spark's context
    * cleaner frees the blocks of unreachable RDDs asynchronously after a
    * GC finds them, so collect until two readings agree within 1 MB. */
  def retainedHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    def settle(): Long = { System.gc(); Thread.sleep(300); mem.getHeapMemoryUsage.getUsed }
    var prev = settle()
    var cur = settle()
    var rounds = 2
    while (math.abs(cur - prev) > (1L << 20) && rounds < 8) {
      prev = cur; cur = settle(); rounds += 1
    }
    cur
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Resolve every table once and run one small shuffle query, so parquet
    * reading, codegen and shuffle paths are loaded before timing. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    Tables.testdataTables.foreach(t => Tables.t(spark, data, t).schema)
    Tables.t(spark, data, "lineitem").groupBy("l_returnflag")
      .agg(sum("l_quantity")).write.format("noop").mode("overwrite").save()
  }

  /** Harness-side spans of one operation: (layer, start us, end us). */
  final class Spans {
    val buf = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def apply[T](name: String)(body: => T): T = {
      val s = nowUs
      try body finally buf += ((name, s, nowUs))
    }
  }

  /** Runs one timed operation; returns the frame a query op built. */
  def runOp(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      kind: String, a: Seq[String], span: Spans,
      vals: mutable.Map[String, Any]): Option[DataFrame] = kind match {
    case "query" =>
      val df = span("queries.build")(queries(a(0))(spark, a(1)))
      span("exec.sink")(df.write.format("noop").mode("overwrite").save())
      Some(df)
    case "rewrite" => // a = sliceDir, sinkRoot, maxRecordsPerFile
      val df = Tables.t(spark, a(0), "lineitem")
      span("sinks.write")(Sinks.writeSized(df, s"${a(1)}/lineitem.parquet", a(2).toLong))
      None
    case "reread" => // a = sinkRoot
      val df = span("tables.resolve")(Tables.t(spark, a(0), "lineitem"))
      val r = span("exec.sink")(df.agg(count(lit(1)),
        sum(col("l_quantity").cast("decimal(20,2)")),
        sum(col("l_extendedprice").cast("decimal(20,2)"))).head())
      vals ++= Seq("rows" -> r.getLong(0), "sum_a" -> str(r.get(1)), "sum_b" -> str(r.get(2)))
      None
    case "commit" => // a = sliceDir, tableRoot
      val df = Tables.t(spark, a(0), "events")
      vals("version") = span("snapshots.commit")(Snapshots.commit(spark, a(1), df, append = true))
      None
    case "compact" => // a = tableRoot, nFiles
      vals("version") = span("snapshots.commit")(Snapshots.commitCompaction(spark, a(0), a(1).toInt))
      None
    case "snapread" => // a = tableRoot
      val df = span("snapshots.read")(Snapshots.read(spark, a(0)))
      val r = span("exec.sink")(df.agg(count(lit(1)),
        sum(col("value").cast("decimal(20,2)")),
        sum(col("event_id").cast("decimal(20,0)"))).head())
      vals ++= Seq("rows" -> r.getLong(0), "sum_a" -> str(r.get(1)), "sum_b" -> str(r.get(2)))
      None
    case other => throw new IllegalArgumentException(s"unknown op kind $other")
  }

  /** Untimed bookkeeping after an operation: what a write left on disk. */
  def afterOp(spark: SparkSession, kind: String, a: Seq[String],
      vals: mutable.Map[String, Any]): Unit = kind match {
    case "rewrite" =>
      val files = parquetFiles(new File(s"${a(1)}/lineitem.parquet"))
      vals ++= Seq("files_written" -> files.size, "bytes_written" -> files.map(_.length).sum)
    case "commit" | "compact" if vals.contains("version") =>
      val root = if (kind == "commit") a(1) else a(0)
      val v = vals("version").asInstanceOf[Int]
      val files = parquetFiles(new File(s"$root/data/v$v"))
      vals ++= Seq("manifest_entries" -> Snapshots.snapshotFiles(spark, root, v).size,
        "files_written" -> files.size, "bytes_written" -> files.map(_.length).sum)
    case _ => ()
  }

  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  /** Warm `Tables.t(..).schema` per table: one untimed call, then five
    * timed calls per table. */
  def resolveProbe(spark: SparkSession, data: String): Unit = {
    val ms = Tables.testdataTables.flatMap { t =>
      Tables.t(spark, data, t).schema
      (1 to 5).map { _ =>
        val s = System.nanoTime()
        Tables.t(spark, data, t).schema
        (System.nanoTime() - s) / 1e6
      }
    }
    rec("resolve", "ms" -> ms)
  }

  /** Order-insensitive result fingerprint: row count plus the first 16 hex
    * digits of SHA-256 over the sorted canonical row strings. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  def str(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  // ---- records -----------------------------------------------------------

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def rec(kind: String, fields: (String, Any)*): Unit =
    records += mapper.writeValueAsString(ListMap(("type" -> kind) +: fields: _*))
}

/** Per-operation trace: Spark jobs, stages and tasks from a SparkListener
  * (attributed through the `perfbench.op` local property), Catalyst phase
  * intervals from every query execution of the operation, and the JVM's
  * GC time and resident cached blocks after it. The listeners are
  * registered only while a traced operation is open. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val Key = "perfbench.op"

  final class Ctr {
    var stages = 0; var tasks = 0; var taskMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L
  }
  private val jobs = mutable.Map.empty[Int, (String, Long, Long)] // id -> (op, start ms, end ms)
  private val stageOp = mutable.Map.empty[Int, String]
  private val ctrs = mutable.Map.empty[String, Ctr]
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).map(_.getProperty(Key)).orNull
      if (op != null) {
        jobs(e.jobId) = (op, e.time, -1L)
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (op, s, _) => jobs(e.jobId) = (op, s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => ctr(op).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = ctr(op)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shufW += m.shuffleWriteMetrics.bytesWritten
          c.shufR += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  private def ctr(op: String): Ctr = ctrs.getOrElseUpdate(op, new Ctr)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      Tracer.this.synchronized(qes += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized(qes += qe)
  }

  private var gc0 = 0L
  private var current: DataFrame = null

  def begin(op: String): Unit = {
    Bus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    synchronized { qes.clear() }
    sc.setLocalProperty(Key, op)
    gc0 = gcMs
  }

  /** Closes the operation's trace; returns the fields its record carries. */
  def end(op: String, harnessSpans: Seq[(String, Long, Long)],
      built: Option[QueryExecution]): Seq[(String, Any)] = {
    sc.setLocalProperty(Key, null)
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val gc = gcMs - gc0
    val storage = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    synchronized {
      val jobSpans = jobs.collect { case (id, (`op`, s, e)) => ("exec.job", s * 1000L, e * 1000L) }.toSeq
      val phaseSpans = (built.toSeq ++ qes).flatMap(_.tracker.phases.toSeq.collect {
        case (p, ps) if p != "parsing" => (s"catalyst.$p", ps.startTimeMs * 1000L, ps.endTimeMs * 1000L)
      })
      val c = ctrs.getOrElse(op, new Ctr)
      jobs.filterInPlace { case (_, (o, _, _)) => o != op }
      stageOp.filterInPlace { case (_, o) => o != op }
      ctrs.remove(op)
      Seq("spans" -> (harnessSpans ++ jobSpans ++ phaseSpans).map { case (n, s, e) => Seq(n, s, e) },
        "ctr" -> Map("jobs" -> jobSpans.size, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_s" -> c.taskMs / 1000.0, "shuffle_write_bytes" -> c.shufW,
          "shuffle_read_bytes" -> c.shufR, "spill_bytes" -> c.spill,
          "gc_s" -> gc / 1000.0,
          "pin_bytes" -> storage.map(r => r.memSize + r.diskSize).sum,
          "pin_rdds" -> storage.length))
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
