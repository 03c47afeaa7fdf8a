package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Js {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every digit of the measured value; non-finite values become null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    data: Path,
    out: Path,
)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath)
  }
}

/** Shared state of one benchmark run: the session, the operation ledger
  * (attempted, failed by error class, correctness problems), the timings of
  * every successful operation by kind, and the metrics to report. */
final class Harness(val o: Opts) {
  /** Spark task slots: the machine's processors, at most four. */
  val cpus: Int = math.max(1, math.min(Runtime.getRuntime.availableProcessors, 4))
  val spans = new Spans(o.trace)
  val listener: Option[GroupListener] = if (o.trace) Some(new GroupListener) else None
  var spark: SparkSession = _

  var attempted = 0
  var failed = 0
  val failuresByClass = mutable.LinkedHashMap.empty[String, Int]
  val problems = mutable.ArrayBuffer.empty[String]
  /** Operation wall times in seconds by kind, failed operations included. */
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer samples, reported as medians. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def sample(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  private def buildSession(extra: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Build the session, install the program's SQL functions and run one
    * empty job; returns (session seconds, warm-up seconds). */
  private def setUp(extra: Seq[(String, String)]): (Double, Double) = {
    val t0 = System.nanoTime()
    spark = buildSession(extra)
    spark.sparkContext.setLogLevel("ERROR")
    val tb = System.nanoTime()
    graft.Graft.registerFunctions(spark)
    val t1 = System.nanoTime()
    log(f"session ${(tb - t0) / 1e9}%.2f s, functions ${(t1 - tb) / 1e9}%.2f s, jvm uptime ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    listener.foreach(spark.sparkContext.addSparkListener)
    spark.range(1).write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** The run's one set-up, timed from JVM start until the session has
    * installed the program's functions and run a job: what every invocation
    * of the program pays before its first operation. */
  def coldSetUp(extra: Seq[(String, String)] = Nil): Unit = {
    val (session, warm) = setUp(extra)
    metrics("setup_s") = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    sample("setup.session_s", session)
    sample("setup.warmup_s", warm)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap in use after full collections, once Spark's cleaner has had time
    * to drop what the run released: the least of three tries. */
  def liveHeapMiB: Double = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      mem.gc()
      Thread.sleep(200)
      mem.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Innermost cause's class name: the error class of a failed operation. */
  def errorClass(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c.getClass.getName
  }

  /** Run one operation under its own job group. A throw counts the
    * operation as failed, under its innermost error class. A warm-up
    * operation (`counted = false`) is not counted; its throw is a problem
    * that makes the run incorrect. */
  def op[T](group: String, counted: Boolean = true)(body: => T): Either[Throwable, (T, Double)] = {
    if (counted) attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    try {
      val r = spans(group)(body)
      val sec = (System.nanoTime() - t0) / 1e9
      log(f"$group%-24s ok     $sec%.3f s")
      Right((r, sec))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        val cls = errorClass(e)
        log(f"$group%-24s FAILED ${(System.nanoTime() - t0) / 1e9}%.3f s: $cls")
        if (counted) {
          failed += 1
          failuresByClass(cls) = failuresByClass.getOrElse(cls, 0) + 1
        } else problems += s"warm-up $group failed: $cls"
        Left(e)
    } finally {
      val sec = (System.nanoTime() - t0) / 1e9
      times.getOrElseUpdate(group, mutable.ArrayBuffer.empty) += sec
      opSeconds += sec
      opCpu += cpuSeconds - c0
      sc.clearJobGroup()
      // blocks a failed or finished operation left behind
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  def kindMedian(kind: String): Double = Stats.median(times.getOrElse(kind, mutable.ArrayBuffer.empty).toSeq)

  /** Spark counters of one group (trace runs only). */
  def groupStats(group: String): GroupStats = listener match {
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.take(group)
    case None => new GroupStats
  }

  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Whole timed rounds: at least `minRounds`, and more until `seconds`
    * have passed since the first began. The workload runs its untimed
    * warm-up before. A fixed least count keeps the number of rounds, and so
    * how warm the median round is, the same on a slower or busier machine.
    * A round's wall and CPU seconds count only the program calls in it,
    * failed ones included, not the benchmark's own set-up and checks between
    * them; the metrics are medians over the rounds. */
  def rounds(minRounds: Int)(round: Int => Unit): Unit = {
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    var k = 0
    while (k < minRounds || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val (w0, c0) = (opSeconds, opCpu)
      round(k)
      roundWall += opSeconds - w0
      roundCpu += opCpu - c0
      k += 1
    }
    log(f"$k timed round(s): ${roundWall.map(s => f"$s%.2f").mkString(" ")} s")
    sample("runtime.gc_s", (gcSeconds - gc0) / k)
    metrics("round_s") = Stats.median(roundWall.toSeq)
    metrics("round_cpu_s") = Stats.median(roundCpu.toSeq)
    metrics("live_heap_mb") = liveHeapMiB
  }

  /** Wall seconds of the program calls made so far. */
  def callSeconds: Double = opSeconds

  private var opSeconds = 0.0
  private var opCpu = 0.0
  private val roundWall = mutable.ArrayBuffer.empty[Double]
  private val roundCpu = mutable.ArrayBuffer.empty[Double]

  def writeResult(layerNames: Seq[String]): Unit = {
    val m =
      // a layer the workload does not exercise reads 0
      if (o.trace) layerNames.map(n => n -> Stats.median(layer.getOrElse(n, mutable.ArrayBuffer(0.0)).toSeq))
        .map { case (n, v) => n -> (if (v.isNaN) 0.0 else v) }
      else metrics.toSeq
    val extra = Seq(
      "failures" -> Js.obj(failuresByClass.map { case (k, v) => k -> v.toString }),
      "problems" -> problems.take(20).map(Js.str).mkString("[", ",", "]"),
      "times" -> Js.obj(times.map { case (k, v) => k -> v.map(Js.num).mkString("[", ",", "]") }),
      "e2e" -> Js.obj(metrics.map { case (k, v) => k -> Js.num(v) }),
      "cpus" -> cpus.toString,
    )
    val json = Js.obj(Seq(
      "correct" -> problems.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Js.obj(m.map { case (k, v) => k -> Js.num(v) }),
    ) ++ extra)
    Files.createDirectories(o.out.getParent)
    Files.writeString(o.out, json + "\n")
    spans.write(o.work.resolve(s"spans-${o.workload}.jsonl"))
  }
}
