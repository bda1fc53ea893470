package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Minimal JSON writer for the harness's one result line (maps, sequences,
  * strings, numbers, booleans). Non-finite doubles become null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => apply(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]          => apply(xs.toSeq)
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case '\t'         => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }
}

object Session {
  /** One local session sized from the host: `local[nproc]` and `nproc`
    * shuffle partitions. Spark's local, warehouse and Hadoop temp dirs live
    * under `work`.
    */
  def start(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Largest heap occupancy right after a collection, over a window opened
  * by `open()` and closed by `close()`.
  */
object HeapPeak {
  @volatile private var active = false
  private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        var used = 0L
        info.getGcInfo.getMemoryUsageAfterGc.values.forEach(u => used += u.getUsed)
        HeapPeak.synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _                      =>
    }

  def open(): Unit = { synchronized { peak = 0L }; active = true }

  /** Peak in MiB. Notifications arrive on a JMX thread, so give the last
    * collection a moment to report before closing the window.
    */
  def close(): Double = {
    Thread.sleep(300)
    active = false
    val p: Long = synchronized { peak }
    p / (1024.0 * 1024.0)
  }
}

/** Spark counters per phase. A phase is the value of the `perfbench.phase`
  * local property on the thread that submitted the job; broadcast and AQE
  * stage threads inherit it.
  */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  private val byPhase = mutable.Map.empty[String, Array[Long]]
  private val stagePhase = mutable.Map.empty[Int, String]

  private def phaseOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Key)))

  private def slot(ph: String): Array[Long] = byPhase.getOrElseUpdate(ph, new Array[Long](Fields.size))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    phaseOf(e.properties).foreach { ph =>
      slot(ph)(0) += 1
      e.stageInfos.foreach(s => stagePhase(s.stageId) = ph)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    phaseOf(e.properties).foreach(ph => stagePhase(e.stageInfo.stageId) = ph)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(e.stageInfo.stageId).foreach(ph => slot(ph)(1) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { ph =>
      val c = slot(ph)
      c(2) += 1
      val m = e.taskMetrics
      if (m != null) {
        c(3) += m.shuffleWriteMetrics.bytesWritten
        c(4) += m.memoryBytesSpilled + m.diskBytesSpilled
        c(5) += m.executorCpuTime
        c(6) += m.jvmGCTime
      }
    }
  }

  /** phase -> counter name -> value, in the units of `Fields`. */
  def snapshot(): Map[String, Map[String, Double]] = synchronized {
    byPhase.map { case (ph, c) =>
      ph -> Fields.zip(c).map { case ((name, scale), v) => name -> v * scale }.toMap
    }.toMap
  }

  def reset(): Unit = synchronized { byPhase.clear(); stagePhase.clear() }
}

object PhaseListener {
  val Key = "perfbench.phase"
  /** Counter name and the factor from the raw Spark unit. */
  val Fields: Seq[(String, Double)] = Seq(
    "jobs" -> 1.0, "stages" -> 1.0, "tasks" -> 1.0, "shuffle_bytes" -> 1.0,
    "spill_bytes" -> 1.0, "task_cpu_s" -> 1e-9, "gc_s" -> 1e-3)
}

/** Spans of one traced pass: name, start, end, parent, run id. Work inside a
  * span is attributed to it through the phase property; the listener bus is
  * drained when a span ends so its counters are complete.
  */
final class Tracer(spark: SparkSession, val run: Int) {
  final case class Span(name: String, start: Double, end: Double, parent: String)

  private val origin = System.nanoTime()
  private val stack = mutable.Stack.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def now: Double = (System.nanoTime() - origin) / 1e9

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val parent = stack.headOption.orNull
    stack.push(name)
    sc.setLocalProperty(PhaseListener.Key, name)
    val t0 = now
    try body
    finally {
      val t1 = now
      spans += Span(name, t0, t1, parent)
      stack.pop()
      sc.setLocalProperty(PhaseListener.Key, stack.headOption.orNull)
      org.apache.spark.PerfbenchBus.drain(sc)
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s =>
    Map("name" -> s.name, "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "run" -> run))
}
