package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark. `run.py` writes a plan (one
  * `key value...` line each: settings, the warm-up passes, the measured
  * passes, the microbench inputs) and this program executes it as a
  * closed loop with one client, then writes one JSON file of raw
  * samples. All statistics, answer checks and the final report are
  * computed by `run.py` from that file.
  *
  *   Harness <plan file> <out json>
  */
object Harness {
  final case class Plan(kv: Map[String, Seq[String]], passes: Seq[Seq[String]],
      warm: Seq[String]) {
    def str(k: String): String = kv(k).head
    def int(k: String): Int = str(k).toInt
    def list(k: String): Seq[String] = kv.getOrElse(k, Nil)
  }

  def readPlan(path: String): Plan = {
    val kv = mutable.LinkedHashMap.empty[String, Seq[String]]
    val passes = mutable.ArrayBuffer.empty[Seq[String]]
    var warm: Seq[String] = Nil
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).foreach { l =>
      val w = l.split(" ").toSeq
      w.head match {
        case "pass" => passes += w.tail
        case "warm" => warm ++= w.tail
        case k => kv(k) = w.tail
      }
    }
    Plan(kv.toMap, passes.toSeq, warm)
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch)
      .config("spark.sql.warehouse.dir", scratch + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      .map(_.drop(key.length).trim.split("\\s+").head.toLong).getOrElse(-1L)

  /** CacheManager entries (`numCachedEntries` is public in the bytecode,
    * not in the Scala API).
    */
  def cachedEntries(cm: org.apache.spark.sql.execution.CacheManager): Int =
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]

  def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).take(12)
      .map(x => f"$x%02x").mkString

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val out = Paths.get(args(1))
    val cores = plan.int("cores")
    val scratch = plan.str("scratch")
    val single = plan.str("single")
    val traced = plan.int("trace") == 1
    val seconds = plan.str("seconds").toDouble
    Files.createDirectories(Paths.get(scratch))

    // Set-up, everything before the first timed op: this cold JVM's
    // session with GraftExtensions, the multipart mirror of the fixture
    // (built by the program, cached by it across runs), table handles,
    // the inspector's reference walk and the warm-up passes below.
    def since(t0: Long) = (System.nanoTime() - t0) / 1e9
    val s0 = System.nanoTime()
    val spark = session(cores, scratch)
    val sessionS = since(s0)
    val m0 = System.nanoTime()
    val dir = plan.str("layout") match {
      case "single" => single
      case "multipart" => graft.sources.MultipartFixture.mirror(spark, single)
    }
    val mirrorS = since(m0)
    plan.list("tables").foreach(t => graft.Tables.load(spark, dir, t).schema)

    val docs = new Ops.Docs(spark, single)
    val ops = new Ops(spark, dir, single, scratch, plan.list("inspect"))

    val records = mutable.ArrayBuffer.empty[Json.Raw]
    var trace: Option[Trace] = None
    var opId = 0

    def runOne(op: String, pass: Int): Double = {
      opId += 1
      val id = opId
      val cache = spark.sharedState.cacheManager
      cache.clearCache()
      val cacheBefore = cachedEntries(cache)
      System.err.println(s"[perfbench] op-begin $id")
      trace.foreach(_.beginOp(id))
      val rchar0 = procField("/proc/self/io", "rchar:")
      val c0 = cpuNs()
      val t0 = Trace.now()
      val (res, err) = try {
        val r = trace match {
          case Some(tr) => tr.span(id, -1L, "op") { root => ops.run(op, Some((tr, id, root))) }
          case None => ops.run(op, None)
        }
        (Some(r), None)
      } catch { case e: Throwable => (None, Some(e)) }
      val t1 = Trace.now()
      val c1 = cpuNs()
      val rchar1 = procField("/proc/self/io", "rchar:")
      val wall = (t1 - t0) / 1e9
      val tr = trace.map(_.endOp(id))
      System.err.println(s"[perfbench] op-end $id")
      val fields = mutable.LinkedHashMap[String, Any](
        "id" -> id, "pass" -> pass, "op" -> op, "start_ns" -> t0, "end_ns" -> t1,
        "wall_s" -> wall, "cpu_s" -> (c1 - c0) / 1e9,
        "rchar" -> (rchar1 - rchar0),
        "cache_before" -> cacheBefore, "cache_after" -> cachedEntries(cache))
      res.foreach { r =>
        fields ++= Seq("digest" -> r.digest, "rows" -> r.rows, "bytes" -> r.bytes,
          "files" -> r.files, "in_bytes" -> r.inBytes)
        r.selfOk.foreach(v => fields("self_ok") = v)
      }
      err.foreach { e =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq.last
        fields ++= Seq("error_class" -> e.getClass.getName,
          "error" -> String.valueOf(e.getMessage).take(400),
          "root_class" -> root.getClass.getName)
      }
      tr.foreach { t =>
        val m = t.metrics
        fields("trace") = Json.obj(
          "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
          "job_intervals" -> t.jobIntervals.map { case (a, b) => Seq(a, b) },
          "task_cpu_s" -> m.cpuNs / 1e9, "task_run_s" -> m.runMs / 1e3,
          "gc_s" -> m.gcMs / 1e3, "spill_bytes" -> m.spill,
          "shuffle_write_bytes" -> m.shuffleWrite,
          "shuffle_read_bytes" -> m.shuffleRead,
          "fetch_wait_s" -> m.fetchWaitMs / 1e3,
          "qe_count" -> t.plans.size,
          "scan_files" -> t.plans.map(_.files).sum,
          "scan_bytes" -> t.plans.map(_.bytes).sum,
          "scan_rows" -> t.plans.map(_.rows).sum,
          "scan_time_s" -> t.plans.map(_.scanNs).sum / 1e9,
          "build_cpu_s" -> ops.lastBuildCpu)
      }
      records += Json.obj(fields.toSeq: _*)
      wall
    }

    // Untimed warm-up passes: JIT, codegen caches, lazily built trees.
    val w0 = System.nanoTime()
    plan.warm.foreach(runOne(_, -1))
    val warmupS = since(w0)

    if (traced) trace = Some(new Trace(spark))
    var measured = 0.0
    var pass = 0
    val loop0 = System.nanoTime()
    val setupEnd = java.time.Instant.now()
    while (pass < plan.passes.size && (pass == 0 || measured < seconds)) {
      plan.passes(pass).foreach(op => measured += runOne(op, pass))
      pass += 1
    }
    val loopWall = (System.nanoTime() - loop0) / 1e9
    val peakRss = procField("/proc/self/status", "VmHWM:")
    val micro = if (traced) Micro.run(docs, plan) else Json.obj()
    val spans = trace.map(_.spans.toSeq).getOrElse(Nil)
    trace.foreach(_.close())

    spark.stop()

    val doc = Json.obj(
      "workload" -> plan.str("workload"), "cores" -> cores,
      "setup_end_epoch_s" -> (setupEnd.getEpochSecond + setupEnd.getNano / 1e9),
      "session_s" -> sessionS, "mirror_s" -> mirrorS, "warmup_s" -> warmupS,
      "measured_s" -> measured, "loop_wall_s" -> loopWall, "passes" -> pass,
      "peak_rss_kb" -> peakRss, "micro" -> micro,
      "ops" -> records,
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.start, s.end)))
    Files.writeString(out, doc.text)
  }
}

/** Writes `SparkEntry.oracleSql` as JSON, for the DuckDB answer check.
  *
  *   DumpOracle <out json>
  */
object DumpOracle {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Json.value(graft.SparkEntry.oracleSql))
}
