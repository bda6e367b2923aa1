package searchbench

import java.lang.management.ManagementFactory

import scala.collection.Seq
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group (one benchmark request or one
  * set-up step). Task figures are summed over every task of every job. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L
  var maxTaskMs = 0L
  /** (start, end) of each job, in epoch milliseconds. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener registered by the benchmark itself. Every request runs under
  * its own job group (`setJobGroup`), so jobs, tasks, bytes, spill, GC and
  * the slowest task are attributed per request without touching the
  * engine. Events arrive on Spark's listener thread; read the figures only
  * after [[drain]]. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  sc.addSparkListener(this)

  def group(id: String): Unit = sc.setJobGroup(id, id, interruptOnCancel = false)

  def drain(): Unit = org.apache.spark.BusDrain(sc)

  def stats(id: String): GroupStats = synchronized(groups.getOrElse(id, new GroupStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    val s = groups.getOrElseUpdate(g, new GroupStats)
    s.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      groups.getOrElseUpdate(g, new GroupStats).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.cpuNs += m.executorCpuTime
    }
    if (e.taskInfo != null) s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
  }
}

/** One traced interval. Times are System.nanoTime-based nanoseconds. */
final case class Span(id: Int, parent: Int, req: String, name: String, start: Long, end: Long)

/** In-memory span recorder for the traced run, written out at the end.
  * Spans go around each layer call the benchmark makes; the Spark jobs a
  * call ran become its children, taken from the listener's job times. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  // nanoTime = epochMs * 1e6 + offset (job times arrive in epoch ms)
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def add(parent: Int, req: String, name: String, start: Long, end: Long): Int = {
    spans += Span(spans.size + 1, parent, req, name, start, end); spans.size
  }

  /** Adds the call span and one child per attributed Spark job. */
  def call(req: String, name: String, start: Long, end: Long, jobs: Iterable[(Long, Long)]): Int = {
    val id = add(0, req, name, start, end)
    jobs.foreach { case (s, e) =>
      add(id, req, "spark.job", s * 1000000L + offsetNs, e * 1000000L + offsetNs)
    }
    id
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfNs(s: Span): Long = s.end - s.start - Tracer.covered(s, spans.filter(_.parent == s.id))

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${Json.str(s.req)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of the children's intervals, clipped to `s`. */
  def covered(s: Span, kids: Iterable[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    total + (curE - curS)
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host and JVM state, recorded in every run so that a throttled window
  * shows in the data. */
object Host {
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Share of CPU time the hypervisor withheld between two /proc/stat reads. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val steal = b._2 - a._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"non-finite metric value $d") else d.toString
}
