package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

import graft.{SparkEntry, Tables}

/** Runs one workload in one JVM and writes `result.json` (plus, when
  * traced, `spans.jsonl`) to the output directory. `run.py` drives it and
  * does the DuckDB side of the correctness check.
  *
  * Usage: perfbench.Main --workload W --fixture DIR --seed N --out DIR
  *        --seconds S --trace 0|1
  *
  * Closed loop, one client: the steps of a pass run one at a time. The
  * program memoizes some results per (session, fixture path); so that no
  * memo of an earlier pass serves a later one, each pass runs in a
  * `newSession()` of its own, or, where the workload gives every pass its
  * own fixture path, all passes share one session. After set-up (session,
  * pinning, [[WarmupPasses]] untimed passes), timed passes repeat until
  * `--seconds` have passed, at least [[MinPasses]] of them. With `--trace 1`,
  * [[MinPasses]] passes run with the listeners attached instead, then as
  * many without them; the traced passes' wall time minus that of the
  * untraced ones is the tracing overhead. Everything outside a step's build
  * and `collect()` — result checks, result dumps, cache hygiene — is
  * untimed. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Untimed passes before the first timed one: a JVM's first pass is the
    * slowest by far (JIT, codegen) and its second still runs well above
    * the later ones. */
  val WarmupPasses = 2

  /** Timed passes per run at the least; each step's metrics are medians
    * over them. More would move a run's medians little: every pass compiles
    * freshly generated classes, so each JVM drifts its own way. Every
    * stream replay also leaves ~33 MB of state stores on the heap until
    * Spark unloads them, so heap_peak_mb grows with the pass count. */
  val MinPasses = 3

  private def nanos(): Long = System.nanoTime()

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime

  /** Old-generation occupancy right after a full collection. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Order-insensitive digest of a result, with doubles rounded to 9
    * decimals as the DuckDB comparison does, so that a later pass can be
    * checked against the pass the oracle saw. */
  private def digest(rows: Array[Row]): (Long, Long) = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => canon(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.mkString("b", ",", "")
      case other => other.toString
    }
    (rows.iterator.map(r => canon(r).hashCode.toLong).sum, rows.length.toLong)
  }

  /** A new directory tree whose files are hard links to `src`'s: a fresh
    * fixture path without writing the data again. */
  private def linkTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.createLink(t, p)
    }

  /** One timed execution of a step. */
  final case class Exec(latency: Double, cpu: Double, rows: Long,
      error: Option[(String, String)], cacheBlocks: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(opt("workload"))
    val fixture = opt("fixture")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val facts = if (w.steps.exists(_.name == "LogParser.requests"))
      Workloads.accessLog(fixture, opt("seed").toLong) else Map.empty[String, Long]
    Files.createDirectories(out)

    // set-up: session creation, pinning and warm-up, timed from here
    val setupStart = nanos()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionS = (nanos() - setupStart) / 1e9

    var pinnedRdds = Set.empty[Int]
    def pin(): Unit = if (w.pinned) {
      Tables.names.foreach { t => val df = Tables(spark, fixture, t); df.persist(); df.count() }
      pinnedRdds = sc.getPersistentRDDs.keySet.toSet
    }
    def unpinnedBlocks(): Long = sc.getRDDStorageInfo
      .filterNot(i => pinnedRdds(i.id)).map(_.numCachedPartitions.toLong).sum

    val pinS = { val t0 = nanos(); pin(); (nanos() - t0) / 1e9 }
    val tablesCacheMb = sc.getRDDStorageInfo.filter(i => pinnedRdds(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    val trace = new Trace
    val root = trace.begin(0, "workload", w.name)
    val firstDigest = mutable.Map.empty[String, (Long, Long)]
    val dumped = mutable.Set.empty[String]
    val resultsDir = out.resolve("results")
    val heap = mutable.ArrayBuffer.empty[Double]

    val shared = if (w.freshDir) Some(spark.newSession()) else None
    var passNo = 0
    def runPass(withTrace: Boolean, checked: Boolean = true): (Long, Seq[Exec]) = {
      passNo += 1
      val k = passNo
      val dir =
        if (!w.freshDir) fixture
        else {
          val d = out.resolve(s"fixture-pass$k")
          linkTree(Paths.get(fixture), d)
          d.toString
        }
      val s = shared.getOrElse(spark.newSession())
      if (withTrace) trace.attach(s)
      val passSpan = if (withTrace) trace.begin(root, "pass", s"pass $k") else 0L
      def span[T](parent: Long, kind: String, name: String)(body: => T): T =
        if (!withTrace) body
        else {
          val id = trace.begin(parent, kind, name)
          sc.setLocalProperty(trace.SpanProperty, id.toString)
          try body finally { sc.setLocalProperty(trace.SpanProperty, null); trace.end(id) }
        }
      val execs = w.steps.map { step =>
        val q = if (withTrace) trace.begin(passSpan, "query", step.name) else 0L
        val (t0, c0) = (nanos(), cpuNs())
        val got = try {
          val df = span(q, "build", step.name)(step.build(s, dir))
          val rows = span(q, "action", step.name)(df.collect())
          Right((rows, df.schema))
        } catch { case e: Throwable => Left(e) }
        val (latency, cpu) = ((nanos() - t0) / 1e9, (cpuNs() - c0) / 1e9)
        if (withTrace) trace.end(q)

        // untimed from here on: check the result, then clean up after it
        val error: Option[(String, String)] = got match {
          case _ if !checked => None
          case Left(e) => Some(e.getClass.getSimpleName -> String.valueOf(e.getMessage).take(300))
          case Right((rows, schema)) =>
            // the oracle sees the first untraced result, so that its dump
            // leaves no jobs in a traced pass; every other result must have
            // the first checked result's digest
            val d = digest(rows)
            val first = firstDigest.getOrElseUpdate(step.name, d)
            if (step.oracle.isDefined && !withTrace && dumped.add(step.name))
              s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.parquet(resultsDir.resolve(step.name).toString)
            if (first != d) Some("ResultChanged" -> "result differs from the first checked pass")
            else step.check(rows, facts).map("CheckFailed" -> _)
        }
        val blocks = unpinnedBlocks()
        if (blocks > 0 || sc.getPersistentRDDs.keySet.exists(!pinnedRdds(_))) {
          spark.catalog.clearCache()
          pin()
        }
        Exec(latency, cpu, got.map(_._1.length.toLong).getOrElse(0L), error, blocks)
      }
      if (withTrace) { trace.drain(s); trace.detach(s); trace.end(passSpan) }
      heap += heapAfterGcMb()
      (passSpan, execs)
    }

    // warm-up, the last part of set-up: untimed passes, so that JIT,
    // codegen and file caches are warm for every timed pass
    val warmupS = {
      val t0 = nanos()
      (1 to WarmupPasses).foreach(_ => runPass(withTrace = false, checked = false))
      (nanos() - t0) / 1e9
    }
    val setupS = (nanos() - setupStart) / 1e9

    // the overhead compares the traced passes with as many untraced ones
    // run after them: the first passes of a JVM are the coldest, so this
    // order can only overstate the overhead
    val tracedPasses =
      if (!traced) Seq.empty
      else {
        sc.addSparkListener(trace.sparkListener)
        val t = (1 to MinPasses).map(_ => runPass(withTrace = true))
        sc.removeSparkListener(trace.sparkListener)
        t
      }
    val timedStart = nanos()
    val plain = mutable.ArrayBuffer.empty[Seq[Exec]]
    if (traced) (1 to MinPasses).foreach(_ => plain += runPass(withTrace = false)._2)
    else while (plain.size < MinPasses || ((nanos() - timedStart) / 1e9 < seconds && plain.size < 100))
      plain += runPass(withTrace = false)._2
    trace.end(root)
    spark.stop()

    def wall(p: Seq[Exec]) = p.map(_.latency).sum
    val stepsOut = w.steps.zipWithIndex.map { case (step, i) =>
      val runs = plain.map(_(i))
      val every = runs ++ tracedPasses.map(_._2(i))
      val errors = every.flatMap(_.error)
      Map(
        "name" -> step.name,
        "latency_s" -> runs.map(_.latency),
        "cpu_s" -> runs.map(_.cpu),
        "rows" -> runs.head.rows,
        "runs" -> every.size,
        "failed_runs" -> every.count(_.error.isDefined),
        "error_class" -> errors.headOption.map(_._1).orNull,
        "error" -> errors.headOption.map(_._2).orNull,
        "oracle" -> step.oracle.orNull,
        "ordered" -> step.ordered,
        "cache_blocks" -> runs.head.cacheBlocks)
    }
    val layers: Map[String, Any] =
      if (!traced) Map.empty
      else Layers.report(trace.all, w, tracedPasses, sessionS, pinS, warmupS, tablesCacheMb,
        Layers.median(tracedPasses.map(p => wall(p._2))) - Layers.median(plain.toSeq.map(wall)))
    val result = Map(
      "workload" -> w.name,
      "cpus" -> cpus,
      "passes" -> plain.size,
      "setup_s" -> setupS,
      "setup" -> Map("session_s" -> sessionS, "pin_s" -> pinS, "warmup_s" -> warmupS),
      "tables_cache_mb" -> tablesCacheMb,
      "access_log" -> facts,
      "heap_mb" -> heap.toSeq,
      "steps" -> stepsOut,
      "layers" -> layers)
    Files.writeString(out.resolve("result.json"), mapper.writeValueAsString(result))
    if (traced) {
      val lines = trace.all.sortBy(_.start).map(s => mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
      Files.write(out.resolve("spans.jsonl"), lines.asJava)
    }
  }
}
