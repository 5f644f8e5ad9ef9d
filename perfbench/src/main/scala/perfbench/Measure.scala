package perfbench

import org.apache.spark.scheduler._

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def copyTree(from: Path, to: Path): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(from.toFile, to.toFile)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds since this JVM started. */
  def uptime(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${uptime()}%7.2f] $msg")

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank median, the p50 that [[tail]] falls back to. */
  def p50(xs: Seq[Double]): Double = nearestRank(xs, 50.0)._1

  /** Candidate tail percentiles, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile: the value at rank ceil(p/100 * n), and the
    * number of samples ranked beyond it. */
  def nearestRank(xs: Seq[Double], p: Double): (Double, Int) = {
    val s = xs.sorted
    val rank = math.max(1, (BigDecimal(p) * s.length / 100)
      .setScale(0, BigDecimal.RoundingMode.CEILING).toInt)
    (s(rank - 1), s.length - rank)
  }

  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  /** The highest ladder percentile with at least `minBeyond` samples beyond
    * it; with too few samples for any of them, the median (p50). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val p = Ladder.find(p => nearestRank(xs, p)._2 >= minBeyond).getOrElse(50.0)
    val (v, beyond) = nearestRank(xs, p)
    Tail(p, v, xs.length, beyond)
  }
}

/** One traced interval. `parent` is -1 for a root span. */
final case class SpanRec(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, runId: String, counters: Map[String, Double]) {
  def durNs: Long = endNs - startNs
}

object SpanMath {
  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children are counted once). */
  def selfNs(spans: Seq[SpanRec]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = 0L; var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** In-memory span recorder. Disabled, `span` is a plain call. Each thread
  * keeps its own stack of open spans. */
final class Tracer(val enabled: Boolean, runId: String, counters: Counters) {
  private val recs = ArrayBuffer.empty[SpanRec]
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement().toInt
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val sc = counters.group(s"span-$id")
      val t0 = System.nanoTime()
      try sc.run(f)
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        val c = sc.finish()
        recs.synchronized(recs += SpanRec(id, name, parent, t0, t1, runId, c))
      }
    }

  /** The innermost open span on this thread, if any. */
  def current: Option[Int] = stack.get().headOption

  /** Runs `f` on this thread with `parent` as the enclosing span, so work
    * handed to another thread nests under the span that started it. */
  def under[T](parent: Option[Int])(f: => T): T = {
    val saved = stack.get()
    stack.set(parent.toList ++ saved)
    try f finally stack.set(saved)
  }

  def spans: Vector[SpanRec] = recs.synchronized(recs.toVector.sortBy(_.id))
}

/** Spark task and job counters, attributed to the job group that was set
  * on the calling thread when each job started. */
final class Counters(sc: org.apache.spark.SparkContext) extends SparkListener {
  final class Acc {
    val cpuNs, gcMs, shuffleWrite, spill, jobs = new AtomicLong()
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    acc(g).jobs.incrementAndGet()
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrDefault(e.stageId, ""))
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counters of everything run inside `run`, under a fresh job group. */
  final class Scope(id: String) {
    def run[T](f: => T): T = {
      val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(id, id)
      try f
      finally prev match {
        case Some(p) => sc.setJobGroup(p, p)
        case None => sc.clearJobGroup()
      }
    }
    def finish(): Map[String, Double] = {
      org.apache.spark.sql.perfbench.Internals.drain(sc)
      val a = acc(id)
      Map("executor_cpu_s" -> a.cpuNs.get / 1e9, "gc_s" -> a.gcMs.get / 1e3,
        "shuffle_write_bytes" -> a.shuffleWrite.get.toDouble,
        "spill_bytes" -> a.spill.get.toDouble, "jobs" -> a.jobs.get.toDouble)
    }
  }

  private val scopeIds = new AtomicLong(0)
  def group(prefix: String): Scope = new Scope(s"$prefix-${scopeIds.getAndIncrement()}")
}
