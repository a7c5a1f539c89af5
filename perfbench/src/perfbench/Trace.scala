package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing from outside the program. Spans wrap the benchmark's own calls
  * into each layer's public functions; counters come from listeners the
  * benchmark registers (SparkListener, QueryExecutionListener) and are
  * kept in memory until the run ends. With tracing off nothing is
  * registered and `span` only runs its body.
  *
  * `active` selects which operations are counted, so one traced run can
  * interleave traced and untraced operations and report the overhead.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, cores: Int) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  @volatile private var active = false
  private val sc = spark.sparkContext

  /** Counters by name; listener threads and the main thread both add. */
  private val counters = mutable.Map.empty[String, Double]
  def add(name: String, v: Double): Unit =
    counters.synchronized(counters(name) = counters.getOrElse(name, 0.0) + v)
  def get(name: String): Double =
    counters.synchronized(counters.getOrElse(name, 0.0))

  def isActive: Boolean = enabled && active

  /** Switch counting on or off between operations; drains the listener
    * bus first so events of the previous operation land on its side.
    */
  def setActive(on: Boolean): Unit = if (enabled) {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    active = on
  }

  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!isActive) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val s = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, layer, name, s - t0, System.nanoTime() - t0)
      }
    }

  /** Write spans and counters as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    drain()
    val lines = spans.map(s =>
      s"""{"span":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6}}""") ++
      counters.synchronized(counters.toSeq.sortBy(_._1)).map { case (k, v) =>
        s"""{"counter":"$k","value":$v}"""
      } ++ execs.synchronized(finished.toSeq).map { case (id, c, head, ms, busy) =>
        s"""{"execution":$id,"class":"$c","duration_ms":$ms,"task_busy_ms":$busy,""" +
          s""""plan":"${head.replace("\\", "/").replace("\"", "'")}"}"""
      }
    Gen.write(path, lines.mkString("", "\n", "\n"))
  }

  // ------------------------------------------------------------ listeners

  /** The layer that owns the path a SQL execution writes to, from its plan
    * text; None for executions that write no file (reads, and the catalog
    * commands that wrap a table write in executions of their own).
    */
  private def writeClass(plan: String): Option[String] = {
    val i = plan.lastIndexOf("Execute InsertIntoHadoopFsRelationCommand")
    if (i < 0) None
    else Trace.FilePath.findFirstIn(plan.substring(i)).map { target =>
      if (target.contains("/silver/bars_index")) "layout.index_write"
      else if (target.contains("/silver/bars._compact_tmp")) "sinks.compact_write"
      else if (target.endsWith("/silver/bars")) "sinks.silver_write"
      else if (target.contains("/silver/bars_live")) "stream.sink_write"
      else if (target.contains("/gold/")) "market.gold_write"
      else if (target.contains("/dims/")) "sinks.dims_write"
      else if (target.contains("/corpus/bands") || target.contains("/corpus/shingles"))
        "corpus.store_write"
      else if (target.contains("/corpus/")) "corpus.table_write"
      else "other_write"
    }
  }

  /** Open SQL executions: id -> (write class or "", start ms, plan head). */
  private val execs = mutable.Map.empty[Long, (String, Long, String)]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execBusyMs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  /** Finished executions: (id, class, plan head, duration ms, task busy ms). */
  private val finished = mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]

  private object Engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      add("spark.jobs", 1)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      execs.synchronized(e.stageIds.foreach(stageExec(_) = exec))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val exec = execs.synchronized(stageExec.get(e.stageId))
      if (exec.isDefined && m != null) {
        add("spark.tasks", 1)
        add("spark.task_busy_s", m.executorRunTime / 1000.0)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.gc_s", m.jvmGCTime / 1000.0)
        execs.synchronized {
          execBusyMs(exec.get) += m.executorRunTime
          execs.get(exec.get).map(_._1).filter(_.nonEmpty).foreach(c =>
            add(c + "_bytes", m.outputMetrics.bytesWritten))
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if active =>
        val pd = s.physicalPlanDescription
        val head = pd.substring(math.max(0, pd.lastIndexOf("Execute ")))
          .linesIterator.take(3).mkString(" | ")
        execs.synchronized(execs(s.executionId) =
          (writeClass(s.physicalPlanDescription).getOrElse(""), s.time,
            head.take(160)))
      case x: SparkListenerSQLExecutionEnd =>
        execs.synchronized(execs.remove(x.executionId)).foreach {
          case (c, start, head) =>
            if (c.nonEmpty) add(c + "_s", (x.time - start) / 1000.0)
            execs.synchronized(finished +=
              ((x.executionId, c, head, x.time - start, execBusyMs(x.executionId))))
        }
      case _ =>
    }
  }

  private object Planning extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = if (active) {
      val ph = qe.tracker.phases
      add("spark.plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum / 1000.0)
      add("spark.actions", 1)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(Engine)
    spark.listenerManager.register(Planning)
  }

  /** Engine counters per operation counted, over `wallS` seconds of
    * counted operations.
    */
  def engineMetrics(ops: Int, wallS: Double): Seq[(String, Double, String)] = {
    drain()
    val n = math.max(1, ops).toDouble
    Seq(
      ("spark.jobs", get("spark.jobs") / n, "count"),
      ("spark.tasks", get("spark.tasks") / n, "count"),
      ("spark.task_busy_s", get("spark.task_busy_s") / n, "s"),
      ("spark.busy_share",
        if (wallS > 0) get("spark.task_busy_s") / (wallS * cores) else 0.0, "ratio"),
      ("spark.shuffle_write_bytes", get("spark.shuffle_write_bytes") / n, "bytes"),
      ("spark.spill_bytes", get("spark.spill_bytes") / n, "bytes"),
      ("spark.gc_s", get("spark.gc_s") / n, "s"),
      ("spark.plan_s", get("spark.plan_s") / n, "s"))
  }
}

object Trace {
  private val FilePath = """file:/[^\s,\]\)]+""".r
}
