package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.StageCache

/** The benchmark's JVM side: one Spark session, one closed-loop client
  * running a workload's query list over generated inputs.
  *
  * Sequence: an untimed check pass writes each query's result as parquet
  * (compared with the DuckDB oracle afterwards by run.py), `warmup`
  * untimed passes on the noop sink burn the rest of the JIT and codegen
  * warm-up, then timed passes run until `seconds` have elapsed. Each
  * query is built through `SparkEntry.queries`, executed on the `noop`
  * sink, then its persisted stages are released.
  * With `trace=1` each timed pass runs every query both untraced and
  * traced; the traced executions attach a SparkListener and a
  * QueryExecutionListener and account the query's time to layers, and
  * the kernel probe runs last.
  *
  * Arguments are key=value pairs: data, out, queries (comma list),
  * seconds, warmup, trace, cores, workload. Results go to out/result.json
  * (and out/trace.jsonl when traced).
  */
object Runner {
  private val clockBase = (System.currentTimeMillis().toDouble, System.nanoTime())

  /** Epoch milliseconds at nanosecond resolution. */
  def now(): Double = clockBase._1 + (System.nanoTime() - clockBase._2) / 1e6

  /** The fixed /tmp directories the registered queries write into
    * (q_stream_admit's per-dataset index directory is not among them). */
  val sinkDirs = Seq("graft_csv", "graft_jsonl", "graft_orc", "graft_snap",
    "graft_events_part", "graft_bucketed")

  final case class Exec(query: String, pass: Int, ms: Double, error: Option[String],
      traced: Boolean = false)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = opt("data")
    val outDir = opt("out")
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val seconds = opt("seconds").toDouble
    val warmup = opt("warmup").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // The registered write-bearing queries sink into fixed /tmp/graft_*
    // directories. A ViewFs mount table sends those into this run's
    // directory; every other path falls back to the local file system
    // unchanged, so the run reads and writes only inside its own tree.
    val sinkLinks = sinkDirs.map { d =>
      Files.createDirectories(Paths.get(s"$outDir/sinks/$d"))
      s"spark.hadoop.fs.viewfs.mounttable.bench.link./tmp/$d" -> s"file://$outDir/sinks/$d"
    }
    val spark = SparkSession.builder()
      .config("spark.hadoop.fs.defaultFS", "viewfs://bench/")
      .config("spark.hadoop.fs.viewfs.mounttable.bench.linkFallback", "file:///")
      .config(sinkLinks.toMap)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // bound Spark's own bookkeeping, so retained heap shows the program's
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = now()
    val fns = SparkEntry.queries

    def release(): Unit = {
      StageCache.releaseAll()
      spark.catalog.clearCache()
    }
    def build(name: String): DataFrame = fns(name)(spark, dataDir)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // check pass: each result to parquet for the oracle comparison
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      try build(n).coalesce(1).write.mode("overwrite").parquet(s"$outDir/check/$n")
      catch { case e: Throwable => checkErrors(n) = String.valueOf(e.getMessage).take(300) }
      finally release()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/check/oracle_sql.json"), Json.obj(
      oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    val checkDone = now()

    def runOnce(n: String, pass: Int): Exec = {
      val t0 = System.nanoTime()
      val err = try { noop(build(n)); None }
        catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val ms = (System.nanoTime() - t0) / 1e6
      release()
      Exec(n, pass, ms, err)
    }
    (1 to warmup).foreach(_ => names.foreach(runOnce(_, 0)))
    val memBean = ManagementFactory.getMemoryMXBean
    def heapAfterGcMb(): Double = {
      // Spark's ContextCleaner drops broadcast and shuffle blocks on its own
      // thread once a collection finds their handles unreachable (it polls
      // every 100 ms); wait for it, then collect what it released
      System.gc()
      Thread.sleep(300)
      System.gc()
      memBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    heapAfterGcMb()

    val timedStart = now()
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWalls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val heaps = mutable.ArrayBuffer.empty[Double]
    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    var pass = 0
    val t0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - t0) / 1e6
    def inTime = elapsedMs < seconds * 1000
    // The first pass always completes; after it the loop stops at the first
    // query that would start past `seconds`, so a run's length does not
    // jump by a whole pass. Only complete passes record a pass wall and a
    // heap reading. Traced runs finish every pass (their layer sums are per
    // pass) and execute each query twice, once untraced and once traced,
    // alternating which goes first, so the tracing overhead is measured
    // between neighbouring executions.
    while (pass < 1 || inTime) {
      pass += 1
      val walls = mutable.Map(false -> 0.0, true -> 0.0)
      var done = 0
      names.zipWithIndex.foreach { case (n, i) =>
        if (pass == 1 || traced || inTime) {
          val order = tracer match {
            case None => Seq(false)
            case Some(_) => if ((i + pass) % 2 == 0) Seq(false, true) else Seq(true, false)
          }
          order.foreach { tr =>
            val e = if (tr) tracer.get.run(n, pass, () => build(n), noop, release)
                    else runOnce(n, pass)
            walls(tr) += e.ms
            execs += e
          }
          done += 1
        }
      }
      if (done == names.size) {
        passWalls += ((pass, false, walls(false)))
        if (traced) passWalls += ((pass, true, walls(true)))
        heaps += heapAfterGcMb()
      }
    }
    val timedEnd = now()

    val probe = if (traced) Probe.run(spark, dataDir, opt("workload")) else Map.empty
    val probeDone = now()
    tracer.foreach(_.writeSpans(s"$outDir/trace.jsonl"))

    val result = Json.obj(Seq(
      "jvm_start_ms" -> Json.num(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      "session_ready_ms" -> Json.num(sessionReady),
      "check_done_ms" -> Json.num(checkDone),
      "timed_start_ms" -> Json.num(timedStart),
      "probe_done_ms" -> Json.num(probeDone),
      "timed_end_ms" -> Json.num(timedEnd),
      "check_errors" -> Json.obj(checkErrors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "passes" -> Json.arr(passWalls.toSeq.map { case (p, t, w) =>
        Json.obj(Seq("pass" -> Json.num(p), "traced" -> t.toString, "wall_ms" -> Json.num(w)))
      }),
      "heap_mb" -> Json.arr(heaps.toSeq.map(Json.num)),
      "execs" -> Json.arr(execs.toSeq.map { e =>
        Json.obj(Seq("q" -> Json.str(e.query), "pass" -> Json.num(e.pass),
          "traced" -> e.traced.toString, "ms" -> Json.num(e.ms)) ++ e.error.map(m => "error" -> Json.str(m)))
      }),
      "layers" -> Json.arr(tracer.toSeq.flatMap(_.passMetrics).map { case (p, m) =>
        Json.obj(Seq("pass" -> Json.num(p)) ++ m.toSeq.sortBy(_._1).map {
          case (k, v) => k -> Json.num(v) })
      }),
      "probe" -> Json.obj(probe.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
    ))
    Files.writeString(Paths.get(s"$outDir/result.json"), result)
    spark.stop()
  }
}

/** Runs queries with the recorder attached and accounts their layers. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val recorder = new Recorder
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val perQuery = mutable.ArrayBuffer.empty[(String, Map[String, Double])]
  private val byPass = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Double]]
  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }

  def run(name: String, pass: Int, build: () => DataFrame, action: DataFrame => Unit,
      release: () => Unit): Runner.Exec = {
    val sc = spark.sparkContext
    sc.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs
    val t0 = Runner.now()
    var t1 = t0
    // the built frame's own analysis runs inside the build, before any
    // listener callback; its tracker holds that phase
    var buildPhases = Map.empty[String, (Double, Double)]
    val err = try {
      val df = build()
      t1 = Runner.now()
      buildPhases = df.queryExecution.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      action(df)
      None
    } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
    val t2 = Runner.now()
    if (t1 == t0) t1 = t2
    val gc = gcMs - gc0
    // stage-cache state just before release
    val persists = StageCache.registeredCount
    val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    release()
    BusAccess.drain(sc)
    sc.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
    val (jobs, stages, qes) = recorder.take()
    val built = new QeRec("build", buildPhases, 0L, 0L, false, t1, t1)
    val qid = s"$pass:$name"
    val (s, m) = Layers.account(qid, (t0, t2), (t0, t1), (t1, t2), jobs, stages,
      built +: qes, persists, cached, gc, () => nextId())
    spans ++= s
    perQuery += qid -> m
    val acc = byPass.getOrElseUpdate(pass, mutable.Map.empty[String, Double])
    m.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0.0) + v }
    Runner.Exec(name, pass, t2 - t0, err, traced = true)
  }

  /** Per traced pass: every layer metric summed over the pass, plus the
    * pass's CPU utilisation during jobs. */
  def passMetrics: Seq[(Int, Map[String, Double])] = byPass.toSeq.map { case (p, m) =>
    val util = if (m("exec.job_ms") > 0) m("exec.task_ms") / (m("exec.job_ms") * cores) else 0.0
    p -> (m.toMap + ("exec.cpu_util" -> util))
  }

  /** Writes the spans and the per-query layer records, once, as JSON lines. */
  def writeSpans(path: String): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("span" -> Json.num(s.id), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end), "parent" -> Json.num(s.parent),
        "query" -> Json.str(s.query)))
    } ++ perQuery.map { case (q, m) =>
      Json.obj(Seq("query" -> Json.str(q)) ++
        m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def num(v: Int): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
