package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.graftbench.TaskLedger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness entry: `Main <spec.json> <result.json>`.
  *
  * Reads the generated inputs named by the spec, runs one workload against
  * the program's public entry points, and writes raw measurements (one
  * record per operation, spans, per-task ledger) for the Python side to
  * reduce and check. The harness computes no statistics itself.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new java.io.File(args(0)))
    val cores = spec.get("cores").asInt()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      // graft.Bench's plan pins, so per-query numbers stay comparable
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", spec.get("work").asText() + "/spark-local")
      .config("spark.sql.warehouse.dir", spec.get("work").asText() + "/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, spec)
    run.put("pins", Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "spark.sql.session.timeZone",
      "spark.ui.enabled").map(k => k -> spark.conf.getOption(k).getOrElse("unset")).toMap)
    run.put("boot_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    spec.get("workload").asText() match {
      case "jobs_stream" => new JobsBench(run).stream()
      case "curation"    => new CurationBench(run).measure()
      case w             => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.finish(args(1))
    spark.stop()
    System.exit(0)
  }
}

/** One run's shared state: the session, the spec, the clock all records
  * use (ms since the harness started), the span recorder, the task ledger
  * (trace runs only), the live-heap peak and the result document.
  */
final class Run(val spark: SparkSession, val spec: JsonNode) {
  val trace: Boolean = spec.get("trace").asBoolean()
  val seconds: Double = spec.get("seconds").asDouble()
  val data: String = spec.get("data").asText()
  val work: String = spec.get("work").asText()
  private val t0 = System.nanoTime()
  private val epochAtT0 = System.currentTimeMillis()
  private val ledger = if (trace) Some(new TaskLedger) else None
  ledger.foreach(spark.sparkContext.addSparkListener)
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** The largest heap occupancy seen right after a major collection: the
    * program's live data, whatever heap size the JVM was given.
    */
  private val liveHeapPeak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          liveHeapPeak.accumulateAndGet(used, (a: Long, b: Long) => a max b)
        }
      }, null, null)
    case _ =>
  }

  def nowMs(): Double = (System.nanoTime() - t0) / 1e6
  def put(key: String, value: Any): Unit = result(key) = value

  /** Time `body`, labelling its Spark jobs with `group`. */
  def op[A](group: String)(body: => A): (A, Double, Double) = {
    spark.sparkContext.setJobGroup(group, group)
    val start = nowMs()
    val a = body
    (a, start, nowMs())
  }

  /** Record a span around `body` when `on` (a traced operation). Spans
    * nest by thread: the enclosing open span is the parent.
    */
  def span[A](name: String, op: String, on: Boolean)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized(spans.size + 1)
      val parent = open.get().headOption.getOrElse(0)
      open.set(id :: open.get())
      val start = nowMs()
      try body
      finally {
        val end = nowMs()
        open.set(open.get().tail)
        synchronized {
          spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
            "start_ms" -> start, "end_ms" -> end)
        }
      }
    }

  /** A trace-only probe (a key or row count): recorded as a `probe.` span
    * so its time can be taken out of the operation, with its Spark jobs
    * filed outside any measured group.
    */
  def probe[A](name: String, op: String)(body: => A): A = span(s"probe.$name", op, on = true) {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.clearJobGroup()
    try body finally if (prev != null) sc.setJobGroup(prev, prev)
  }

  def exhaust(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def finish(path: String): Unit = {
    put("spans", spans.toSeq)
    ledger.foreach { l =>
      val (jobs, stages, tasks) = l.snapshot(spark.sparkContext)
      put("groups", jobs.keySet.map(g => g -> Map("jobs" -> jobs(g), "stages" -> stages.getOrElse(g, 0))).toMap)
      put("tasks", tasks.map(t => Seq(
        t.group, t.launchMs - epochAtT0, t.finishMs - epochAtT0, t.runMs, t.cpuNs / 1e6,
        t.gcMs, t.shuffleWrite, t.shuffleRead, t.spill, t.inputBytes, t.inputRows)))
    }
    // the live heap at the end of the run counts too (read directly: the
    // collector's notification may not have arrived yet)
    System.gc()
    val endLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    put("live_heap_peak_mb", (liveHeapPeak.get max endLive) / 1048576.0)
    put("vm_hwm_kb", scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(0L))
    new ObjectMapper().writeValue(new java.io.File(path), Run.toJava(result))
  }
}

object Run {
  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_]           => s.map(toJava).toSeq.asJava
    case a: Array[_]              => a.map(toJava).toSeq.asJava
    case o: Option[_]             => o.map(toJava).orNull
    case x                        => x
  }
}
