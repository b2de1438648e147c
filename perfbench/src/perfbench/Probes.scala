package perfbench

import java.sql.{Connection, DriverManager, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sinks.{CommitStore, HadoopCommitStore, SnapshotTable}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds so driver spans
  * (nanoTime-based) and Spark listener events (epoch ms) share one axis. */
final case class Span(id: Long, parent: Long, name: String, layer: String, start: Long, end: Long) {
  def ns: Long = end - start
}

final case class OpenOp(id: Long, name: String, start: Long)

/** In-memory span store. Off unless a traced round is running; every
  * probe below checks [[Tracer.on]] so untraced rounds pay one volatile
  * read per call. The active op's id travels to Spark jobs and tasks as
  * the local property [[Tracer.OpKey]]. */
object Tracer {
  val OpKey = "perfbench.op"
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = origin + System.nanoTime()
  def nextId(): Long = ids.incrementAndGet()

  /** The op this thread works for: the driver's open op, or the op that
    * launched the task an executor thread runs. 0 when none. */
  def currentOp(): Long = {
    val tc = TaskContext.get()
    val p = if (tc != null) tc.getLocalProperty(OpKey) else null
    if (p != null) p.toLong else driverOp.get()
  }
  private val driverOp = new AtomicReference[java.lang.Long](0L)

  /** Time `body` as a span of `layer` under the current op. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId(); val parent = currentOp(); val t0 = now()
      try body
      finally spans.add(Span(id, parent, name, layer, t0, now()))
    }

  /** Run one op as the parent of every span and job it causes. */
  def op[T](spark: SparkSession, name: String)(body: => T): T = {
    val o = beginOp(spark, name)
    try body finally endOp(spark, o)
  }

  def beginOp(spark: SparkSession, name: String): OpenOp =
    if (!on) OpenOp(0L, name, 0L)
    else {
      val o = OpenOp(nextId(), name, now())
      driverOp.set(o.id)
      spark.sparkContext.setLocalProperty(OpKey, o.id.toString)
      o
    }

  def endOp(spark: SparkSession, o: OpenOp): Unit =
    if (o.id != 0L) {
      spark.sparkContext.setLocalProperty(OpKey, null)
      driverOp.set(0L)
      spans.add(Span(o.id, 0L, o.name, "op", o.start, now()))
    }
}

/** Scheduler and executor counters from a [[SparkListener]], plus the
  * Catalyst phase times from a [[QueryExecutionListener]]. Registered only
  * for traced rounds. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, taskWaitMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
  }
  val total = new Totals
  val perOp = mutable.Map.empty[Long, Totals]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  var analysisMs, optimizationMs, planningMs = 0L
  var executions = 0L

  private def opTotals(op: Long): Totals = perOp.getOrElseUpdate(op, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageOp(s) = op)
    jobStart(e.jobId) = (e.time, op)
    total.jobs += 1; opTotals(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, op) =>
      Tracer.spans.add(Span(Tracer.nextId(), op, s"job ${e.jobId}", "spark", t0 * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    total.stages += 1; opTotals(stageOp.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    for (t <- Seq(total, opTotals(stageOp.getOrElse(e.stageId, 0L)))) {
      t.tasks += 1
      t.taskRunMs += info.duration
      t.taskWaitMs += stageSubmit.get(e.stageId).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
      if (m != null) {
        t.taskCpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    executions += 1
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    analysisMs += ms("analysis"); optimizationMs += ms("optimization"); planningMs += ms("planning")
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** A JDBC driver that fronts the real one: `jdbc:perfbench:<rest>` opens
  * `jdbc:<rest>` and times every call on the connection and its
  * statements. The program under test only ever sees the URL. */
object TimingJdbc {
  val Prefix = "jdbc:perfbench:"
  def wrap(url: String): String = Prefix + url.stripPrefix("jdbc:")

  final class Counters {
    val connections, batches, statements, updatesSent, updatesMatched, busyNs = new AtomicLong
    val firstOpen = new AtomicLong(Long.MaxValue)
    val lastClose = new AtomicLong(0L)
    val writerTasks = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def windowNs: Long = math.max(0L, lastClose.get - firstOpen.get)
  }
  @volatile var counters = new Counters

  private class Timed(target: AnyRef, isUpdate: Boolean) extends java.lang.reflect.InvocationHandler {
    override def invoke(proxy: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]): AnyRef = {
      val c = counters
      val t0 = Tracer.now()
      val r =
        try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        finally c.busyNs.addAndGet(Tracer.now() - t0)
      m.getName match {
        case "addBatch" => c.statements.incrementAndGet()
        case "executeBatch" =>
          c.batches.incrementAndGet()
          if (isUpdate) {
            val counts = r.asInstanceOf[Array[Int]]
            c.updatesSent.addAndGet(counts.length)
            c.updatesMatched.addAndGet(counts.count(_ > 0))
          }
        case "executeUpdate" =>
          c.statements.incrementAndGet()
          if (isUpdate) {
            c.updatesSent.incrementAndGet()
            if (r.asInstanceOf[Integer] > 0) c.updatesMatched.incrementAndGet()
          }
        case "prepareStatement" =>
          val sql = String.valueOf(args(0)).trim.toUpperCase(java.util.Locale.ROOT)
          return proxyOf(r, classOf[PreparedStatement], sql.startsWith("UPDATE"))
        case "createStatement" => return proxyOf(r, classOf[Statement], false)
        case "close" if target.isInstanceOf[Connection] =>
          c.lastClose.accumulateAndGet(Tracer.now(), math.max)
          if (Tracer.on) Tracer.spans.add(Span(Tracer.nextId(), Tracer.currentOp(), "jdbc connection", "sinks.jdbc", opened, Tracer.now()))
        case _ =>
      }
      r
    }
    var opened = 0L
  }

  private def proxyOf[T](target: AnyRef, iface: Class[T], isUpdate: Boolean): AnyRef =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), new Timed(target, isUpdate))

  final class Driver extends java.sql.Driver {
    override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    override def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val c = counters
        val real = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
        c.connections.incrementAndGet()
        val now = Tracer.now()
        c.firstOpen.accumulateAndGet(now, math.min)
        Option(TaskContext.get()).foreach(tc => c.writerTasks.add(tc.taskAttemptId()))
        val h = new Timed(real, false)
        h.opened = now
        java.lang.reflect.Proxy
          .newProxyInstance(getClass.getClassLoader, Array[Class[_]](classOf[Connection]), h)
          .asInstanceOf[Connection]
      }
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def getPropertyInfo(url: String, info: java.util.Properties) = Array.empty[java.sql.DriverPropertyInfo]
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger = java.util.logging.Logger.getGlobal
  }

  lazy val register: Unit = DriverManager.registerDriver(new Driver)
}

/** Times the manifest publish of every snapshot commit; installed with
  * the public [[SnapshotTable.setCommitStore]] for traced rounds only. */
final class TimingCommitStore(inner: CommitStore) extends CommitStore {
  val publishes, publishNs, manifestBytes = new AtomicLong
  override def putIfAbsent(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val t0 = Tracer.now()
    try Tracer.span("commit publish", "sinks.snapshot")(inner.putIfAbsent(fs, path, bytes))
    finally {
      publishes.incrementAndGet(); publishNs.addAndGet(Tracer.now() - t0)
      manifestBytes.addAndGet(bytes.length)
    }
  }
}

/** Hadoop local-filesystem byte and op counters, read as deltas. */
object FsStats {
  private def stats = Option(FileSystem.getGlobalStorageStatistics.get("file"))
  def snapshot(): Map[String, Long] =
    stats.map(_.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap).getOrElse(Map.empty)
  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** Every probe of one traced round, installed and removed together. */
final class Probes(spark: SparkSession) {
  val spark0 = new SparkProbe
  val store = new TimingCommitStore(HadoopCommitStore)
  private var fsBefore = Map.empty[String, Long]
  var fs = Map.empty[String, Long]

  def install(): Unit = {
    TimingJdbc.register
    spark.sparkContext.addSparkListener(spark0)
    spark.listenerManager.register(spark0)
    SnapshotTable.setCommitStore(store)
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    fsBefore = FsStats.snapshot()
    Tracer.on = true
  }

  def uninstall(): Unit = {
    Tracer.on = false
    fs = FsStats.delta(fsBefore, FsStats.snapshot()).foldLeft(fs) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    SnapshotTable.resetCommitStore()
    heapPeakMb = math.max(heapPeakMb, heapPeak())
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(spark0)
    spark.sparkContext.removeSparkListener(spark0)
  }

  var heapPeakMb = 0.0
  private def heapPeak(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
