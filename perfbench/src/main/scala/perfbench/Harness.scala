package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's session: exactly the settings `graft.RunPipeline.main`
  * builds (HarnessSpec pins the two against a real RunPipeline.main run).
  */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The discarded warmup job — the one graft.Bench runs before timing. */
  def warmup(spark: SparkSession): Unit =
    noop(spark.range(1000).selectExpr("sum(id)"))

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Cumulative counters; differences of two snapshots bracket a region. */
final case class Snap(
    tasks: Long = 0, jobs: Long = 0, runMs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, recordsIn: Long = 0,
    bytesOut: Long = 0, planMs: Long = 0, actions: Long = 0,
    codegenCount: Long = 0, codegenMs: Double = 0) {
  def -(o: Snap): Snap = Snap(tasks - o.tasks, jobs - o.jobs, runMs - o.runMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    recordsIn - o.recordsIn, bytesOut - o.bytesOut, planMs - o.planMs,
    actions - o.actions, codegenCount - o.codegenCount, codegenMs - o.codegenMs)
  def taskS: Double = runMs / 1e3
  def shuffleMb: Double = (shuffleRead + shuffleWrite) / 1048576.0
}

/** Task, job and planning counters for one session: a SparkListener for
  * executor metrics and a QueryExecutionListener for the QueryExecution
  * tracker's phase times (analysis, optimization, planning).
  */
class Counters extends SparkListener with QueryExecutionListener {
  private var s = Snap()
  private var peak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      s = s.copy(tasks = s.tasks + 1, runMs = s.runMs + m.executorRunTime,
        shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = s.spill + m.diskBytesSpilled,
        recordsIn = s.recordsIn + m.inputMetrics.recordsRead,
        bytesOut = s.bytesOut + m.outputMetrics.bytesWritten)
      peak = math.max(peak, m.peakExecutionMemory)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { s = s.copy(jobs = s.jobs + 1) }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    s = s.copy(planMs = s.planMs + ms, actions = s.actions + 1)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  /** Codegen compile time comes from Spark's compilation-time histogram:
    * the compile count is exact, the time is count x the histogram mean.
    */
  def snap(): Snap = synchronized {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    s.copy(codegenCount = h.getCount, codegenMs = h.getCount * h.getSnapshot.getMean)
  }

  /** Largest per-task peak execution memory since the last call (bytes). */
  def takePeak(): Long = synchronized { val p = peak; peak = 0; p }
}

object Counters {
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

/** One span per layer call: name, start, end, parent span and run id, with
  * the counters the call moved. Spans stay in memory until the run ends.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      run: String, startNs: Long, endNs: Long, counts: Snap) {
  def wallS: Double = (endNs - startNs) / 1e9
}

class Tracer(spark: SparkSession, counters: Counters, val run: String) {
  val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  private var next = 1

  def span[T](layer: String, name: String)(body: => T): T = {
    Bus.drain(spark.sparkContext)
    val c0 = counters.snap()
    val id = next
    next += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      Bus.drain(spark.sparkContext)
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, layer, name, run, t0, t1, counters.snap() - c0)
    }
  }

  def get(layer: String, name: String): Span =
    spans.find(s => s.layer == layer && s.name == name).get

  /** Self time: a span's duration minus the part its children cover. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), apply(v).getBytes("UTF-8"))
}
