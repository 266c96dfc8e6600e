package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.config.Sessions
import graft.io.Tables

/** JVM side of the benchmark: one client running one workload's query
  * list in a closed loop on one `Sessions.local()` session.
  *
  * Order of work:
  *  1. set-up, `setups` times: `Sessions.local` and the first fixture
  *     touch (the first from JVM launch, the others on a fresh session in
  *     the same JVM);
  *  2. the check pass, untimed: every query is built and its ordered-row
  *     digest computed; then one untimed warm-up pass of noop drains, as
  *     the JIT is still compiling the query paths after one execution;
  *  3. `passes` measured passes: the 10 fixtures are opened (untimed in
  *     the pass), then every query is built by its public query
  *     function and drained in full (every column, declared ORDER BY) to
  *     the `noop` sink; storage is read, then released, untimed.
  *
  * With `--trace 1` a [[Probe]] counts each phase's Spark work and the
  * runner records spans (workload, pass, query, phase; Spark jobs from
  * the probe) in memory, written out at exit.
  *
  * Usage: Runner --data <dir> --cpus <n> --queries <q1,q2,..>
  *        --passes <n> --setups <n> --trace <0|1> --out <file>
  */
object Runner {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        startNs: Long, endNs: Long)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val cpus = opt("cpus")
    val names = opt("queries").split(',').toSeq
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query: $n"))).toMap

    // 1. set-up
    val jvmStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val setupS, sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until opt("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Sessions.local(cpus)
      sessionS += secs(t0)
      Tables.t(spark, dir, "region").count()
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else secs(t0))
    }
    val sc = spark.sparkContext

    val probe = new Probe
    if (trace) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val spans = ArrayBuffer.empty[Span]
    var nextId = 0

    /** Runs `f` as one span; its time excludes the bus drain. */
    def span[T](name: String, kind: String, parent: Int)(f: => T): (Try[T], Span) = {
      nextId += 1
      val id = nextId
      if (trace) {
        sc.setJobGroup(s"perfbench-$id", s"$kind $name")
        sc.setLocalProperty(Probe.SpanKey, id.toString)
        probe.current = id
      }
      val t0 = System.nanoTime()
      val r = Try(f)
      val s = Span(id, parent, name, kind, t0, System.nanoTime())
      if (trace) spans += s
      (r, s)
    }
    def secsOf(s: Span): Double = (s.endNs - s.startNs) / 1e9
    def counters(id: Int): Any =
      if (trace) { PerfbenchBus.drain(sc); probe.take(id).json } else None

    def storageMb(): Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    def release(): Unit = Sessions.releaseQueryStorage(spark)
    def errorOf(t: Try[_]): Option[String] = t match {
      case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      case Success(_) => None
    }

    // 2. the check pass
    val (checks, checkSpan) = span("check", "check", 0) {
      names.sorted.map { n =>
        val r = Try { val df = fns(n)(spark, dir); (Digest.of(df), df.schema.catalogString) }
        release()
        n -> (r match {
          case Success(((digest, rows), schema)) =>
            Json.Obj("digest" -> digest, "rows" -> rows, "schema" -> schema)
          case f => Json.Obj("error" -> errorOf(f))
        })
      }
    }
    val checkCounters = counters(checkSpan.id)
    val (_, warmSpan) = span("warm", "warm", 0) {
      names.foreach { n =>
        Try(fns(n)(spark, dir).write.format("noop").mode("overwrite").save())
        release()
      }
    }
    counters(warmSpan.id)

    // 3. measured passes
    val (passRecords, _) = span(opt("workload"), "workload", 0) {
      val wid = nextId
      (1 to passes).map { p =>
        val (pass, _) = span(s"pass$p", "pass", wid) {
          val pid = nextId
          val (_, open) = span("open", "open", pid) {
            Tables.names.foreach(t => Tables.t(spark, dir, t).schema)
          }
          val openC = counters(open.id)
          val queries = names.map { n =>
            nextId += 1
            val qid = nextId
            val (built, build) = span("build", "build", qid)(fns(n)(spark, dir))
            val buildC = counters(build.id)
            val (drained, drain) = span("drain", "drain", qid) {
              built.get.write.format("noop").mode("overwrite").save()
            }
            val drainC = counters(drain.id)
            val held = storageMb()
            val (_, rel) = span("release", "release", qid)(release())
            if (trace) spans += Span(qid, pid, n, "query", build.startNs, drain.endNs)
            Json.Obj("name" -> n, "build_s" -> secsOf(build), "drain_s" -> secsOf(drain),
              "release_s" -> secsOf(rel), "storage_mb" -> held,
              "error" -> errorOf(built).orElse(errorOf(drained)),
              "build" -> buildC, "drain" -> drainC)
          }
          Json.Obj("open_s" -> secsOf(open), "open" -> openC, "queries" -> queries)
        }
        pass.get
      }
    }

    Files.writeString(Paths.get(opt("out")), Json(Json.Obj(
      "setup_s" -> setupS, "session_s" -> sessionS,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "spark_version" -> spark.version,
      "checks" -> Json.Obj(checks.get: _*), "check" -> checkCounters,
      "passes" -> passRecords.get)))
    if (trace) {
      PerfbenchBus.drain(sc)
      val t0Ms = System.currentTimeMillis(); val t0Ns = System.nanoTime()
      def ns(ms: Long): Long = t0Ns + (ms - t0Ms) * 1000000L
      val jobSpans = probe.jobs.map(j => Json.Obj("id" -> (100000000 + j.jobId),
        "parent" -> j.span, "name" -> s"job${j.jobId}", "kind" -> "job",
        "start_ns" -> ns(j.startMs), "end_ns" -> ns(j.endMs),
        "stages" -> j.stages, "ok" -> j.ok))
      Files.writeString(Paths.get(opt("out") + ".spans"), Json(
        spans.map(s => Json.Obj("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)) ++ jobSpans))
    }
    spark.stop()
  }
}
