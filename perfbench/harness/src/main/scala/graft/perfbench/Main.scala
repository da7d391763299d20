package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes the raw run record (setup
  * times, per-iteration walls and digests, spans, jobs, planning
  * phases) as JSON. All arithmetic over the record is done by
  * perfbench/run.py.
  *
  * One closed-loop client: this thread makes each call, waits for its
  * result, then makes the next.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds N --trace 0|1
  *             --cores N
  *             [--rows N --queries Q --shards S --buckets B] (ss_sweep)
  *             [--docs N] (train_data)
  */
object Main {
  /** The kernel's RSS high-water mark of this process (VmHWM). */
  private def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val workload: Workload = a("workload") match {
      case "ss_sweep" => new SsSweep(a("data"), a("queries").toInt, a("shards").toInt,
        a("buckets").toInt, a("rows").toLong)
      case "train_data" => new TrainData(a("data"), a("docs").toLong)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val localDir = s"$work/spark-local"
    new java.io.File(localDir).mkdirs()

    // set-up: session start plus one warm iteration in the cold JVM,
    // the cost a user pays before the first timed call. It is taken
    // once: a second set-up in the same JVM would be a warm restart, a
    // different quantity. The warm pass also writes its outputs for the
    // DuckDB twins.
    val t0 = System.nanoTime()
    val spark = Session.start(cores, localDir)
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val check = new Ctx(spark, traced = false, sink = Some(s"$work/check"))
    var checkError: Option[String] = None
    try workload.iteration(check)
    catch { case e: Exception => checkError = Some(e.toString) }
    check.release()
    val setup = (System.nanoTime() - t0) / 1e9
    // Every measured iteration starts from a collected heap, after a
    // pause that lets the context cleaner drop what the collection
    // released (else that cleanup runs inside the iteration), and with
    // the kernel's RSS high-water mark reset, so that each iteration
    // reports its own peak RSS. The pauses extend the window; they are
    // not part of any iteration.
    def collect(): Long = {
      val t0 = System.nanoTime()
      System.gc()
      Thread.sleep(300)
      System.nanoTime() - t0
    }
    collect()
    PerfbenchBridge.drainListeners(spark.sparkContext)
    Recorder.clear()

    // measurement: back-to-back iterations until the window closes. A
    // traced run alternates untraced and traced iterations and starts
    // and ends on an untraced one (at least three iterations), so that
    // the untraced samples bracket the traced ones and the JVM's
    // warm-up trend does not read as tracing overhead.
    val iters = mutable.ArrayBuffer[Map[String, Any]]()
    var deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || (traceRun && (i < 3 || i % 2 == 0))) {
      if (i > 0) deadline += collect()
      val traced = traceRun && i % 2 == 1
      val ctx = new Ctx(spark, traced, sink = None)
      Tracer.enabled = traced
      Tracer.iter = i
      val hwmReset = scala.util.Try(java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/proc/self/clear_refs"), "5")).isSuccess
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var error: Option[String] = None
      try workload.iteration(ctx)
      catch { case e: Exception => error = Some(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      Tracer.enabled = false
      ctx.release()
      iters += Map("i" -> i, "traced" -> traced, "wall_s" -> wall,
        "start_ms" -> startMs, "end_ms" -> endMs, "error" -> error,
        "peak_rss_mb" -> (if (hwmReset) peakRssMb() else -1.0),
        "digests" -> ctx.digests, "samples" -> ctx.samples,
        "traced_only_s" -> ctx.tracedOnlyS)
      i += 1
    }
    PerfbenchBridge.drainListeners(spark.sparkContext)

    // the library's own DuckDB oracles for the calls whose shape the
    // workload keeps unchanged
    val oracles = a("workload") match {
      case "train_data" => Seq("curation_pipeline", "ann_ivfpq_prebuilt_rerank")
      case _ => Nil
    }
    new java.io.File(s"$work/oracle").mkdirs()
    oracles.foreach(n => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/oracle/$n.sql"), graft.SparkEntry.oracleSql(n)))

    val record = Map(
      "workload" -> a("workload"),
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "setup_s" -> setup,
      "session_start_s" -> sessionStart,
      "iterations" -> iters,
      "check" -> Map("digests" -> check.digests, "error" -> checkError),
      "spans" -> Tracer.spans.map(s => Map("id" -> s.id, "iter" -> s.iter,
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_s" -> (s.endNs - s.startNs) / 1e9,
        "rows_in" -> s.rowsIn, "rows_out" -> s.rowsOut)),
      "jobs" -> Recorder.jobs.values.map(j => Map(
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "cpu_s" -> j.cpuNs / 1e9,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill)),
      "plans" -> Recorder.plans.map { case (s, e, ms) =>
        Map("start_ms" -> s, "end_ms" -> e, "plan_s" -> ms / 1e3) },
      "facts" -> workload.facts,
      "peak_rss_mb" -> peakRssMb())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/record.json"),
      Json(record))
    spark.stop()
  }
}
