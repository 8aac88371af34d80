package graftbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed unit of a workload. `run` does the timed work and returns
  * the untimed output check (None = output correct). `items` is how many
  * workload items (entries, change events, documents) the step moves.
  */
final case class Step(name: String, items: Long, run: () => () => Option[String])

/** What a workload gets from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val inputs: Path,
    val refs: Path, val work: Path)

trait Workload {
  /** Fixture staging on a fresh session; part of set-up. */
  def stage(ctx: Ctx): Unit
  /** Untimed steps that warm the session; part of set-up. */
  def warmup(ctx: Ctx): Unit
  /** Drop what [[stage]] made, before the next set-up repetition. */
  def reset(ctx: Ctx): Unit
  /** The steps of one pass, in the order they run. */
  def pass(ctx: Ctx): Seq[Step]
  /** Called once after the warm-up pass, before the measured window. */
  def startWindow(ctx: Ctx): Unit = ()
  /** Figures read once after the measured window. */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Runs one workload in this JVM and writes its raw record as JSON:
  * set-up times, every step's interval and check, and, in traced runs,
  * spans, Spark jobs and stages and streaming progress. `run.py` turns
  * the record into metrics.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <inputs> <refs> <work> <out.json>
  *        Main --oracles <marts|corpus> <out.json>
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracles") {
      val names = Entries.names(args(1)).toSet
      val sql = graft.SparkEntry.oracleSql.filter(o => names(o._1))
      Files.writeString(Paths.get(args(2)), Json.obj(sql.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.str(v)
      }))
      return
    }
    val Array(wlName, secondsS, traceS, inputs, refs, work, out) = args
    val seconds = secondsS.toDouble
    val tracer = new Tracer(traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val workDir = Paths.get(work)
    val wl: Workload = wlName match {
      case "marts" => new Entries("marts")
      case "corpus" => new Entries("corpus")
      case "cdc" => new Cdc
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, repeated: session, fixture staging, warmup
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      spark = graft.Graft.localSession(cores, s"graftbench-$wlName")
      spark.sparkContext.setLogLevel("ERROR")
      ctx = new Ctx(spark, tracer, Paths.get(inputs), Paths.get(refs), workDir)
      wl.stage(ctx)
      wl.warmup(ctx)
      val dt = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) {
        wl.reset(ctx)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }

    // one untimed pass: JIT, generated code and file caches warm up
    // before the window, so every timed pass runs warm. Its failures
    // show again in the timed passes.
    wl.pass(ctx).foreach { st =>
      try st.run()() catch { case _: Exception => () }
    }
    wl.startWindow(ctx)
    tracer.clear()
    val listeners = if (tracer.enabled) Some(Listeners.attach(spark, tracer)) else None
    val gc0 = gcSeconds()
    val records = Seq.newBuilder[String]
    var attempted, failed = 0L
    val w0 = System.nanoTime()
    var n = 0
    val passTimes = Seq.newBuilder[(Long, Long)]
    while (n == 0 || (System.nanoTime() - w0) / 1e9 < seconds) {
      val steps = wl.pass(ctx)
      val p0 = System.nanoTime()
      tracer.span("run", s"pass$n") {
        steps.foreach { st =>
          val t0 = System.nanoTime()
          val outcome = try Right(tracer.span("step", st.name)(st.run()))
          catch { case e: Throwable => Left(e) }
          val t1 = System.nanoTime()
          val err = outcome match {
            case Right(check) => try check() catch { case e: Throwable => Some(describe(e)) }
            case Left(e) => Some(describe(e))
          }
          attempted += 1
          if (err.isDefined) failed += 1
          records += Json.obj(Seq("name" -> Json.str(st.name), "pass" -> n.toString, "items" -> st.items.toString,
            "t0" -> t0.toString, "t1" -> t1.toString,
            "error" -> err.map(Json.str).getOrElse("null")))
        }
      }
      passTimes += ((p0, System.nanoTime()))
      n += 1
    }
    val w1 = System.nanoTime()
    val gc = gcSeconds() - gc0
    val extra = wl.finish(ctx)

    val traceJson = listeners.map { case (jl, sl) =>
      drain(jl)
      traceRecord(tracer, jl, sl)
    }.getOrElse("null")
    val body = Json.obj(Seq(
      "workload" -> Json.str(wlName), "cores" -> cores.toString,
      "setup_s" -> setups.mkString("[", ",", "]"),
      "window" -> s"[$w0,$w1]",
      "passes" -> passTimes.result().map(p => s"[${p._1},${p._2}]").mkString("[", ",", "]"),
      "steps" -> records.result().mkString("[", ",", "]"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "gc_s" -> gc.toString, "rss_peak_mb" -> rssPeakMb.toString,
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> v.toString }),
      "trace" -> traceJson))
    Files.writeString(Paths.get(out), body)
    spark.stop()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[graftbench] jvm up ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: " +
      f"set-ups ${setups.sum}%.1f s, window ${(w1 - w0) / 1e9}%.1f s, " +
      f"after window ${(System.nanoTime() - w1) / 1e9}%.1f s")
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this process (VmHWM), in MB. */
  private def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Listener events arrive asynchronously: wait until every job seen has ended. */
  private def drain(jl: JobListener): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    Thread.sleep(200)
    while (jl.jobs.values.asScala.exists(_.t1 < 0) && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  private def traceRecord(t: Tracer, jl: JobListener, sl: StreamListener): String = {
    val spans = t.spans.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name), "t0" -> s.t0.toString, "t1" -> s.t1.toString)))
    val jobs = jl.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Json.obj(Seq(
      "id" -> j.id.toString, "span" -> j.span.toString, "t0" -> j.t0.toString,
      "t1" -> j.t1.toString, "failed" -> j.failed.toString,
      "stages" -> j.stages.asScala.mkString("[", ",", "]"))))
    val stages = jl.stages.values.asScala.toSeq.sortBy(_.id).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "submitted" -> s.submitted.toString,
      "first_launch" -> (if (s.firstLaunch == Long.MaxValue) "-1" else s.firstLaunch.toString),
      "tasks" -> s.tasks.toString, "empty_tasks" -> s.emptyTasks.toString,
      "failed_tasks" -> s.failedTasks.toString, "task_ns" -> s.taskNs.toString,
      "shuffle_bytes" -> s.shuffleBytes.toString, "spill_bytes" -> s.spillBytes.toString)))
    Json.obj(Seq("spans" -> spans.mkString("[", ",", "]"),
      "jobs" -> jobs.mkString("[", ",", "]"), "stages" -> stages.mkString("[", ",", "]"),
      "stream_trigger_ms" -> sl.triggerMs.get.toString,
      "stream_addbatch_ms" -> sl.addBatchMs.get.toString,
      "stream_batches" -> sl.batches.get.toString))
  }
}

/** The few JSON shapes the record needs (values are pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
