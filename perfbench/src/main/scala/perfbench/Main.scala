package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload:
  *
  *   set-up, `SetupReps` times: start a session, generate the seed's
  *     fixture and self-check it (the previous session's stop and the
  *     previous fixture's deletion are not timed);
  *   warm-up: the cold pass, which also checks the typed-row digest,
  *     and one more pass;
  *   timed: untraced passes until `--seconds` have elapsed (at least three);
  *   traced (`--trace 1`): a listener-instrumented pass plus a staged
  *     replay with one span per layer call.
  *
  * Writes `result.json` (what the command prints last), `report.json`
  * (every sample, both halves' quartiles, the machine stamp) and
  * `spans.json` into `--work`.
  */
object Main {

  val SetupReps = 7
  val MinPasses = 3
  /** No timed pass starts after this many seconds of the run. */
  val BudgetS = 120.0

  /** Every per-layer metric; a layer the workload bypasses reports 0. */
  val PerLayer: Seq[String] = Seq(
    "session.start_s", "setup.fixture_s", "setup.cold_pass_s",
    "discover.list_s", "discover.files", "schema.parse_s", "schema.tables",
    "sources.parse_s", "sources.parse_mib_s", "sources.rows",
    "transform.cast_s", "transform.bad_rows", "transform.rowid_s", "transform.rowid_jobs",
    "sink.write_s", "sink.jobs", "sink.shuffle_write_bytes", "sink.files", "sink.out_bytes",
    "verify.checksum_s", "verify.max_task_s",
    "pipeline.analyze_s", "pipeline.state_s", "pipeline.jobs_per_table", "pipeline.other_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s",
    "spark.max_task_s", "spark.parallel_eff", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "trace.wall_s", "trace.overhead_s", "trace.listener_overhead_s", "trace.materialize_s",
    "machine.nproc", "machine.heap_mib", "machine.yardstick_before_s", "machine.yardstick_after_s"
  ) ++ Workloads.PairQueries.flatMap(q =>
    Seq(s"operators.${q}_s", s"operators.${q}_jobs", s"operators.${q}_max_task_s"))

  /** The single-thread CPU yardstick of `graft.Bench` (same xorshift
    * loop) at an eighth of its iterations, scaled to its 700M-iteration
    * figure so the two stay comparable.
    */
  def yardstick(): Double = {
    val iters = 87500000L
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("yardstick sentinel")
    (System.nanoTime() - t0) / 1e9 * (700000000L.toDouble / iters)
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - started) / 1e9
    val wname = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    arg(args, "--pins").foreach(p => Pins.load(Paths.get(p)))
    val w = Workloads.byName(wname).getOrElse(sys.error(s"unknown workload $wname"))
    Files.createDirectories(work)

    var attempted = 0
    val problems = ArrayBuffer[String]()
    def attempt(what: String, ps: Seq[String]): Unit = {
      attempted += 1
      ps.foreach(p => problems += s"$what: $p")
    }

    val yardBefore = yardstick()

    // ---------------------------------------------------------- set-up
    val setupS, sessionS, fixtureS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var fx: Fixture = null
    (1 to SetupReps).foreach { r =>
      if (spark != null) spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = GraftSession.benchSession(Workloads.cores.toString)
      sessionS += (System.nanoTime() - t0) / 1e9
      val tf = System.nanoTime()
      val f = w.generate(spark, work.resolve(s"fixture_$r"), seed)
      fixtureS += (System.nanoTime() - tf) / 1e9
      if (r == 1) attempt("layout", w.layoutProblems(seed))
      else attempt("fixture determinism",
        if (f.digest == fx.digest) Nil else Seq(s"same seed gave ${f.digest} then ${fx.digest}"))
      setupS += (System.nanoTime() - t0) / 1e9
      if (fx != null) GraftSession.deleteRec(fx.dir)
      fx = f
    }
    // Each pass reads the fixture under a path no earlier pass used, so
    // nothing keyed by source path carries over from one pass to the next.
    var moves = 0
    def freshPath(): Unit = {
      moves += 1
      val to = work.resolve(s"fixture_m$moves")
      Files.move(fx.dir, to)
      fx = fx.copy(dir = to)
    }
    // The warm-up: the first (cold, JIT-bound) pass, whose output is also
    // checked against the pinned typed-row digest, then one more pass, so
    // the timed passes start past the steepest part of the JIT's gains.
    freshPath()
    val cold = w.pass(spark, fx, work.resolve("pass"), out => w.outputProblems(spark, out))
    attempt("cold pass", cold.problems)
    freshPath()
    val warm = w.pass(spark, fx, work.resolve("pass"))
    attempt("warm-up pass", warm.problems)

    // ---------------------------------------------------------- timed
    val timed = ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while ((timed.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) && elapsed < BudgetS) {
      freshPath()
      val p = w.pass(spark, fx, work.resolve("pass"))
      attempt(s"pass ${timed.size + 1}", p.problems)
      timed += p
    }
    val ok = timed.filter(_.problems.isEmpty)
    val times = ok.map(_.seconds).toSeq
    val passMedian = if (times.isEmpty) Double.NaN else Stats.median(times)

    // ---------------------------------------------------------- traced
    val spansPath = work.resolve("spans.json")
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else try {
        freshPath()
        val m = w.traced(spark, fx, work.resolve("trace"), passMedian, spansPath)
        attempt("traced run", Nil)
        m
      } catch { case e: Throwable =>
        attempt("traced run", Seq(s"${e.getClass.getName}: ${e.getMessage}"))
        Map.empty
      }
    spark.stop()
    val yardAfter = yardstick()
    GraftSession.deleteRec(fx.dir)

    // ---------------------------------------------------------- report
    val heapMib = Runtime.getRuntime.maxMemory / 1048576.0
    val e2e: Map[String, Double] = if (times.isEmpty) Map.empty else Map(
      "pass_s" -> passMedian,
      "mib_s" -> fx.srcBytes / 1048576.0 / passMedian,
      "out_bytes_per_src_byte" -> Stats.median(ok.map(_.outBytes.toDouble).toSeq) / fx.srcBytes,
      "setup_s" -> Stats.median(setupS.toSeq))
    val perLayer: Map[String, Double] = PerLayer.map(_ -> 0.0).toMap ++ layers ++ Map(
      "session.start_s" -> Stats.median(sessionS.toSeq),
      "setup.fixture_s" -> Stats.median(fixtureS.toSeq),
      "setup.cold_pass_s" -> cold.seconds,
      "machine.nproc" -> Workloads.cores.toDouble,
      "machine.heap_mib" -> heapMib,
      "machine.yardstick_before_s" -> yardBefore,
      "machine.yardstick_after_s" -> yardAfter)
    val unknown = perLayer.keySet.diff(PerLayer.toSet)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    val failed = problems.map(_.takeWhile(_ != ':')).distinct.size
    val metrics = if (trace) perLayer else e2e
    val correct = problems.isEmpty && metrics.nonEmpty

    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    def summary(xs: Seq[Double]): String =
      if (xs.isEmpty) "null"
      else {
        val (q1, _, q3) = Stats.quartiles(xs)
        s"""{"n":${xs.size},"median":${Json.num(Stats.median(xs))},"q1":${Json.num(q1)},""" +
          s""""q3":${Json.num(q3)},"max":${Json.num(xs.max)}}"""
      }
    val half = (times.size + 1) / 2
    val report =
      s"""{"workload":${Json.str(wname)},"seed":$seed,"seconds":${Json.num(seconds)},"trace":$trace,
         |"correct":$correct,"attempted":$attempted,"failed":$failed,
         |"problems":${problems.map(Json.str).mkString("[", ",", "]")},
         |"machine":{"nproc":${Workloads.cores},"heap_mib":${Json.num(heapMib)},
         |  "yardstick_s":{"before":${Json.num(yardBefore)},"after":${Json.num(yardAfter)}}},
         |"src_bytes":${fx.srcBytes},"fixture_digest":${Json.str(fx.digest)},
         |"setup_s":${setupS.map(Json.num).mkString("[", ",", "]")},
         |"session_start_s":${sessionS.map(Json.num).mkString("[", ",", "]")},
         |"cold_pass_s":${Json.num(cold.seconds)},"warmup_pass_s":${Json.num(warm.seconds)},
         |"pass_s":${timed.map(p => Json.num(p.seconds)).mkString("[", ",", "]")},
         |"pass_ok":${timed.map(_.problems.isEmpty).mkString("[", ",", "]")},
         |"pass_summary":{"all":${summary(times)},"set_a":${summary(times.take(half))},
         |  "set_b":${summary(times.drop(half))}},
         |"end_to_end":${obj(e2e)},
         |"per_layer":${if (trace) obj(perLayer) else "null"},
         |"spans":${if (trace && Files.exists(spansPath)) Json.str(spansPath.toString) else "null"}}
         |""".stripMargin
    Files.writeString(work.resolve("report.json"), report)
    Files.writeString(work.resolve("result.json"),
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)}}""")

    // ---------------------------------------------------------- human lines
    println(f"perfbench $wname seed=$seed: ${timed.size} timed passes, ${setupS.size} set-ups, " +
      f"$attempted checks, $failed failed (fail_ratio ${failed.toDouble / attempted}%.3f)")
    problems.foreach(p => println(s"  FAILED $p"))
    if (times.nonEmpty) {
      val (q1, _, q3) = Stats.quartiles(times)
      println(f"  pass_s      median $passMedian%.4f s  (q1 $q1%.4f, q3 $q3%.4f, max ${times.max}%.4f, n=${times.size})")
      println(f"  mib_s       ${e2e("mib_s")}%.3f MiB/s of ${fx.srcBytes / 1048576.0}%.2f MiB source  " +
        "(reference anchor: 28 MiB/s per importer)")
      println(f"  out_bytes_per_src_byte ${e2e("out_bytes_per_src_byte")}%.4f")
    }
    println(f"  setup_s     median ${Stats.median(setupS.toSeq)}%.4f s  (${setupS.map(s => f"$s%.2f").mkString(", ")}; " +
      f"then warm-up passes of ${cold.seconds}%.3f and ${warm.seconds}%.3f s)")
    println(f"  machine     nproc ${Workloads.cores}, heap $heapMib%.0f MiB, yardstick $yardBefore%.3f s before, $yardAfter%.3f s after")
    if (trace && layers.nonEmpty) {
      println(f"  traced      wall ${layers("trace.wall_s")}%.3f s, overhead ${layers("trace.overhead_s")}%.3f s " +
        f"vs the untraced median; spans in $spansPath")
      perLayer.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"    $k%-40s $v%.6g") }
    }
  }
}
