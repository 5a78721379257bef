package graft.perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The run's configuration, written by run.py as one JSON file. */
final class Config(node: JsonNode) {
  def str(k: String): String = node.get(k).asText()
  def int(k: String): Int = node.get(k).asInt()
  def strs(k: String): Seq[String] =
    node.get(k).elements().asScala.map(_.asText()).toSeq
  val workload: String = str("workload")
  val seed: Long = node.get("seed").asLong()
  val seconds: Double = node.get("seconds").asDouble()
  val trace: Boolean = node.get("trace").asBoolean()
  val work: String = str("work")
}

object Config {
  def load(path: String): Config =
    new Config(new ObjectMapper().readTree(new java.io.File(path)))
}

/** Builds JSON trees out of java collections for Jackson to write. */
object Json {
  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def conv(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_] =>
      val l = new JList[Any](); s.foreach(x => l.add(conv(x))); l
    case o: Option[_] => o.map(conv).orNull
    case other => other
  }
  def write(path: String, v: Any): Unit =
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(path), conv(v))
}

/** One timed operation: a gate key, a connector flow, a Txn verb or a
  * streaming query, always run closed-loop (the next starts only after
  * this one returns). */
final case class Op(name: String, phase: String, pass: Int, group: String,
    startMs: Long, seconds: Double, loadavg: Double, otherCores: Option[Double],
    error: Option[String], facts: Map[String, Any]) {
  def ok: Boolean = error.isEmpty
  def toJson: Map[String, Any] = Map("name" -> name, "phase" -> phase,
    "pass" -> pass, "group" -> group, "start_ms" -> startMs,
    "seconds" -> seconds, "loadavg" -> loadavg, "other_cores" -> otherCores,
    "error" -> error, "facts" -> facts)
}

/** Runs operations, times them, and records every failure with its
  * exception class and message. Each operation runs under its own Spark
  * job group so the tracer can attribute jobs, stages and SQL metrics to
  * it. */
final class Recorder(val spans: Spans) {
  val ops = ArrayBuffer[Op]()
  private var spark: SparkSession = _
  def session: SparkSession = spark
  def use(s: SparkSession): Unit = spark = s

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Run `f` as one operation. `f` returns facts (row counts and the
    * like) that run.py checks against the generator's expectations. */
  def op(name: String, phase: String, pass: Int)(
      f: => Map[String, Any]): Op = {
    val group = s"pb${ops.size}:$name"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val load = loadavg()
    val cpu = Cpu.sample()
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val span = spans.open(s"op.$phase", group)
    val (err, facts) =
      try (None, f)
      catch { case NonFatal(e) => (Some(Recorder.describe(e)), Map.empty[String, Any]) }
      finally {
        spans.close(span)
        sc.clearJobGroup()
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val o = Op(name, phase, pass, group, wallStart, seconds, load,
      Cpu.otherCores(cpu, Cpu.sample()), err, facts)
    ops += o
    err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    o
  }

  /** Time a block as a named span under the current operation. */
  def span[T](name: String)(f: => T): T = {
    val s = spans.open(name, spans.currentGroup)
    try f finally spans.close(s)
  }
}

object Recorder {
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
}

/** In-memory spans: name, start, end, parent and job group. Spans nest
  * by call order on the driver thread; they are written out at the end
  * of a traced run. Recording is skipped entirely while tracing is off. */
final case class Span(id: Int, name: String, group: String, parent: Int,
    startNs: Long, var endNs: Long)

final class Spans(var enabled: Boolean) {
  val all = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val origin = System.nanoTime()
  def currentGroup: String = stack.headOption.map(_.group).getOrElse("")
  def open(name: String, group: String): Option[Span] =
    if (!enabled) None
    else {
      val s = Span(all.size, name, group, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime() - origin, -1L)
      all += s; stack = s :: stack; Some(s)
    }
  def close(s: Option[Span]): Unit = s.foreach { sp =>
    sp.endNs = System.nanoTime() - origin
    stack = stack.dropWhile(_.id != sp.id).drop(1)
  }
  /** Epoch-millis of the span clock's origin, to line spans up with
    * listener event times. */
  val originEpochMs: Double =
    System.currentTimeMillis() - (System.nanoTime() - origin) / 1e6
  def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9
}

/** Heap occupancy after collections. `record` subscribes to every
  * collector's notifications; each collection leaves (epoch millis at its
  * start, MB of heap in use after it), and run.py keeps those that began
  * inside a timed operation: the largest is heap_peak_mb. `afterFullGcMb`
  * forces collections at a pass boundary (outside every timed region)
  * and reads what stays live. */
object Heap {
  private val events = ArrayBuffer[(Long, Double)]()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      events.synchronized(events += ((jvmStartMs + gc.getStartTime, used / 1048576.0)))
    }

  def record(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def collections: Seq[(Long, Double)] = events.synchronized(events.toList)

  def afterFullGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    // Spark's context cleaner frees what the driver released only after a
    // collection finds it unreachable, so collect until the heap stops
    // shrinking (at most five rounds)
    var (prev, cur, rounds) = (Double.MaxValue, collect(), 1)
    while (prev - cur > 1.0 && rounds < 5) {
      Thread.sleep(200)
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }
}

/** CPU time the rest of the machine used while an operation ran, from
  * /proc/stat: busy time of all cores minus this process's CPU time, plus
  * the time the hypervisor stole. In cores: 1.0 is one core kept busy by
  * someone else for the whole interval. */
object Cpu {
  final case class Sample(ns: Long, busyS: Double, stealS: Double, ownS: Double)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val stat = java.nio.file.Paths.get("/proc/stat")

  /** None where /proc/stat cannot be read (not Linux). */
  def sample(): Option[Sample] = {
    val ns = System.nanoTime()
    val own = os.getProcessCpuTime / 1e9
    scala.util.Try(java.nio.file.Files.readAllLines(stat).get(0)).toOption.map { line =>
      // cpu user nice system idle iowait irq softirq steal, in USER_HZ
      // ticks (100 a second on Linux)
      val f = line.trim.split("\\s+").drop(1).map(_.toDouble / 100)
      Sample(ns, f(0) + f(1) + f(2) + f(5) + f(6), f(7), own)
    }
  }
  def otherCores(a: Option[Sample], b: Option[Sample]): Option[Double] =
    for (x <- a; y <- b if y.ns > x.ns)
      yield (y.busyS - x.busyS - (y.ownS - x.ownS) + y.stealS - x.stealS) /
        ((y.ns - x.ns) / 1e9)
}

object Files {
  /** (regular files, bytes) under a directory, or (0, 0) if it is absent. */
  def du(p: String): (Long, Long) = {
    val root = new java.io.File(p)
    if (!root.exists()) (0L, 0L)
    else {
      val fs = org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala
      (fs.size.toLong, fs.map(_.length()).sum)
    }
  }
}
