package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val startMs: Long) {
  var endMs = -1L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Records jobs, task metrics and query planning phases. Everything is
  * held in memory and written out once, when the run ends. Events are
  * keyed by wall-clock time; the benchmark attributes them to spans
  * afterwards.
  */
object Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  /** (first phase start ms, last phase end ms, summed phase ms) */
  val plans = mutable.ArrayBuffer[(Long, Long, Long)]()

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear(); plans.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid);
         m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      plans += ((ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
        ph.map(p => p.endTimeMs - p.startTimeMs).sum))
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session of the context reports, the AQE-off child sessions of the
  * ANN operators included.
  */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Recorder.planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Recorder.planned(qe)
}

final case class Span(id: Int, iter: Int, name: String, parent: Int,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L,
    var rowsIn: Long = -1L, var rowsOut: Long = -1L)

/** Spans around the benchmark's calls into each layer: name, start,
  * end and parent; spans of one iteration share its id. Disabled, a
  * span is a plain call.
  */
object Tracer {
  var enabled = false
  var iter = 0
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  /** Runs body under a new span; returns its result and the closed span
    * (None while disabled).
    */
  def spanned[A](name: String, rowsIn: Long = -1L)(body: => A): (A, Option[Span]) =
    if (!enabled) (body, None)
    else {
      val s = Span(spans.size, iter, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime(), rowsIn = rowsIn)
      spans += s
      stack = s :: stack
      try (body, Some(s))
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def span[A](name: String, rowsIn: Long = -1L)(body: => A): A = spanned(name, rowsIn)(body)._1
}

/** Order-sensitive digest of a frame's rows, computed on the executors:
  * each row is hashed, each partition folds its hashes as a polynomial,
  * and the Spark driver joins the partition results in partition order, so
  * the result does not depend on where partitions split.
  */
object Digest {
  private val P = 1099511628211L

  def of(df: DataFrame): (Long, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*)).as[Long]
    val parts = hashed.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { x => h = h * P + x; n += 1 }
      Iterator((n, h))
    }.collect()
    parts.foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h * pow(n2) + h2) }
  }

  def ofFile(path: String): (Long, Long) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val md = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val lines = bytes.count(_ == '\n'.toByte).toLong
    (lines, java.nio.ByteBuffer.wrap(md).getLong)
  }

  private def pow(e: Long): Long = {
    var r = 1L
    var x = P
    var k = e
    while (k > 0) {
      if ((k & 1L) == 1L) r *= x
      x *= x
      k >>= 1
    }
    r
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case t: Product if t.productArity == 2 && t.productPrefix.startsWith("Tuple") =>
      apply(Seq(t.productElement(0), t.productElement(1)))
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Session {
  /** `local[cores]` in this JVM, with the library benchmark's planning
    * settings; the driver heap is the JVM's own -Xmx.
    */
  def start(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "20")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(Recorder)
    spark
  }
}
