package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What every harness main shares: the session the program's own mains
  * build, wall clocks that run.py can line up with its own, and the
  * JSON line each main prints last.
  */
object Harness {

  /** The session NagiosEtlJob.main and graft.Bench build. `extra` adds
    * static settings a caller of the catalog sets (Bench's codegen
    * cache), since they must be in place before the session exists.
    */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall clock in epoch seconds with microsecond digits, the same
    * clock as Python's time.time().
    */
  def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** CPU seconds this JVM has used, over all its threads (Spark's
    * task threads, the driver, JIT and GC). The kernel books the time a
    * hypervisor takes a virtual CPU away as steal, not to the process,
    * so on a shared host this moves far less than wall time.
    */
  def cpu(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => throw new IllegalStateException("no process CPU time on this JVM")
    }

  /** Wall seconds of a fixed piece of work, none of it the program's,
    * on `threads` threads at once: each fills an array of longs from
    * its own generator and sorts it, [[CalibrationRounds]] times. On a
    * shared host the speed the machine gives a run drifts by tens of
    * per cent over minutes; run.py divides the run's operation times by
    * its calibration time, so a run reports what it would take at the
    * reference speed. Run between operations, never during one; the
    * first call of a JVM still compiles the calibration's own code.
    */
  def calibrate(threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val parts = (0 until threads).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = calibrationWork(i)
        })
      }
      val check = parts.map(_.get()).sum
      val s = (System.nanoTime() - t0) / 1e9
      if (check == 42L) println(check) // keeps the work from being elided
      s
    } finally pool.shutdown()
  }

  val CalibrationRounds = 12

  private def calibrationWork(seed: Int): Long = {
    val a = new Array[Long](1 << 18)
    var x = seed + 1L
    var acc = 0L
    var r = 0
    while (r < CalibrationRounds) {
      var j = 0
      while (j < a.length) {
        x = x * 6364136223846793005L + 1442695040888963407L
        a(j) = x
        j += 1
      }
      java.util.Arrays.sort(a)
      acc += a(r)
      r += 1
    }
    acc
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak resident set of this JVM (VmHWM), in MB; -1 where the
    * platform has no /proc.
    */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
      finally src.close()
    }
  }

  /** Minimal JSON for the result line: numbers, strings, booleans,
    * sequences and maps.
    */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** The last line of a harness main's stdout; run.py parses it. */
  def emit(fields: (String, Any)*): Unit = {
    println("PERFBENCH " + json(fields.toMap))
    System.out.flush()
  }
}

/** Spark work per tag. The harness sets the local property
  * [[Trace.Key]] around each call it times; every job started under
  * it, and every task of that job's stages, is booked to the tag.
  * Attached only in traced runs.
  */
final class Trace extends SparkListener {
  import Trace.Totals
  private val totals = mutable.LinkedHashMap.empty[String, Totals]
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def of(tag: String): Totals = totals.getOrElseUpdate(tag, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.Key))).getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
    of(tag).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageTag.getOrDefault(e.stageId, "untagged"))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.busyMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Totals of the tags that satisfy `keep`, after every pending event
    * has been delivered.
    */
  def sum(spark: SparkSession)(keep: String => Boolean): Totals = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = new Totals
      totals.foreach { case (tag, t) => if (keep(tag)) out.add(t) }
      out
    }
  }
}

object Trace {
  val Key = "perfbench.tag"

  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var busyMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L

    def add(o: Totals): Unit = {
      jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs; gcMs += o.gcMs
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
      recordsRead += o.recordsRead
    }

    def fields: Map[String, Any] = Map(
      "jobs" -> jobs, "tasks" -> tasks, "task_busy_s" -> busyMs / 1000.0,
      "gc_s" -> gcMs / 1000.0, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes)
  }

  def attach(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Book the jobs `f` starts on this thread to `tag`. */
  def tagged[A](spark: SparkSession, tag: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try f finally sc.setLocalProperty(Key, prev)
  }
}
