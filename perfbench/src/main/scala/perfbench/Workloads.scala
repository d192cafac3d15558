package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum, when}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

import graft.GraftSession.deleteRec
import graft.discover.FileKind
import graft.pipeline.{Analyze, Ingest, JobState, PerfbenchRowid}
import graft.schema.MysqlDdl
import graft.sink.SortedParquetSink
import graft.sources.{CharsetReader, DumpSource, MySqlCsv}
import graft.transform.{GeneratedColumns, RowTransform}
import graft.verify.{Checksum, KvChecksum}

/** What one generated fixture holds and what a correct import of it
  * must report.
  */
final case class Fixture(dir: Path, srcBytes: Long, expectedRows: Map[String, Long],
    digest: String)

/** Outcome of one pass: wall time, output bytes, and every correctness
  * problem found (empty = correct).
  */
final case class Pass(seconds: Double, outBytes: Long, problems: Seq[String])

/** One benchmark workload. */
trait Workload {
  def name: String
  /** Writes the fixture for `seed` into `dir` (which does not exist yet). */
  def generate(spark: SparkSession, dir: Path, seed: Long): Fixture
  /** Problems with the seed's layout: it must differ from another seed's
    * while the content it lays out stays the same.
    */
  def layoutProblems(seed: Long): Seq[String]
  /** One pass; `inspect` sees the output before it is deleted, untimed. */
  def pass(spark: SparkSession, fx: Fixture, work: Path,
      inspect: Path => Seq[String] = _ => Nil): Pass
  /** Content self-check of a pass's output against the pinned digest. */
  def outputProblems(spark: SparkSession, out: Path): Seq[String]
  /** Listener run plus staged replay; returns per-layer metrics. */
  def traced(spark: SparkSession, fx: Fixture, work: Path, untracedMedian: Double,
      spans: Path): Map[String, Double]
}

object Workloads {

  val cores: Int = Runtime.getRuntime.availableProcessors()

  // Input sizes. Each pass must stay a few seconds long at 4 cores so a
  // run holds several warm passes plus its set-ups (see BENCHMARK.json).
  val LineitemRows = 60000
  val ManyTables = 8
  val CustomerRows = 8000
  val Documents = 1200

  val PairQueries: Seq[String] = Seq("q_dedup_ngram", "q_dedup_minhash", "q_winnow_pairs")

  val all: Seq[Workload] = Seq(DumpBulk, ManyTablesW, PairDedup)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Run N must not pay for run N-1: drop the catalog tables ANALYZE
    * registered, release cached relations and checkpoint blocks.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Noop write that also returns one observed aggregate. */
  def noopObserved(df: DataFrame, agg: org.apache.spark.sql.Column): Long = {
    val obs = Observation()
    noop(df.observe(obs, agg.as("v")))
    obs.get("v").asInstanceOf[Long]
  }

  def checksumOf(df: DataFrame): KvChecksum = {
    val r = Checksum.tableChecksum(df).collect()(0)
    KvChecksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def render(k: KvChecksum): String = s"${k.checksum}/${k.totalKvs}/${k.totalBytes}"
}

/** One import unit: a whole file, or a byte range of one (len >= 0). */
private final case class ImportUnit(path: String, kind: FileKind.Value, start: Long, len: Long) {
  def chunk: Boolean = len >= 0
  def token: String = if (chunk) s"$path@$start+$len" else path
}

/** What the staged replay saw. */
private final case class Outcome(files: Int, tables: Int, rows: Long, badRows: Long,
    problems: Seq[String])

/** The import workloads share one pass, self-check and replay. */
abstract class ImportWorkload extends Workload {
  import Workloads._

  def config(fx: Fixture, target: Path, state: Path): Ingest.Config

  /** Pin key of the typed-row digest of everything one import writes. */
  def pinKey: String

  def pass(spark: SparkSession, fx: Fixture, work: Path,
      inspect: Path => Seq[String]): Pass = {
    val target = work.resolve("target")
    val state = work.resolve("state")
    deleteRec(target); deleteRec(state)
    isolate(spark)
    val cfg = config(fx, target, state)
    val t0 = System.nanoTime()
    val reports = try Right(Ingest.run(spark, cfg)) catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val problems = reports match {
      case Left(e) => Seq(s"import threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(rs) => reportProblems(rs, fx) ++ inspect(target)
    }
    val out = Fixtures.dirBytes(target)
    deleteRec(target); deleteRec(state)
    Pass(sec, out, problems)
  }

  private def reportProblems(rs: Seq[Ingest.TableReport], fx: Fixture): Seq[String] = {
    val byKey = rs.map(r => s"${r.db}.${r.table}" -> r).toMap
    val missing = fx.expectedRows.keySet.diff(byKey.keySet).toSeq.sorted.map(k => s"$k: no report")
    val extra = byKey.keySet.diff(fx.expectedRows.keySet).toSeq.sorted.map(k => s"$k: unexpected table")
    missing ++ extra ++ rs.flatMap { r =>
      val k = s"${r.db}.${r.table}"
      fx.expectedRows.get(k).toSeq.flatMap { n =>
        Seq(
          if (!r.checksumOk) Some(s"$k: checksum mismatch") else None,
          if (r.skipped) Some(s"$k: skipped") else None,
          if (r.nRows != n) Some(s"$k: ${r.nRows} rows, expected $n") else None,
          if (r.badRows != 0) Some(s"$k: ${r.badRows} bad rows, expected 0") else None
        ).flatten
      }
    }
  }

  /** XOR-combined typed-row checksum over every output table, without
    * the row-ID column: independent of how the seed laid rows out.
    */
  def outputProblems(spark: SparkSession, out: Path): Seq[String] = {
    val tables = Files.list(out).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isDirectory(p)).sortBy(_.toString)
    val sumK = tables.map { t =>
      checksumOf(spark.read.parquet(t.toString).drop(Ingest.TidbRowidCol))
    }.foldLeft(KvChecksum(0L, 0L, 0L))(_ add _)
    val got = render(sumK)
    Pins.check(pinKey, got)
  }

  // ------------------------------------------------------------- tracing

  private val RowidFill = "_graft_fill_tidb_rowid"

  /** The import's unit expansion for these fixtures: byte-range chunks
    * under strictFormat, whole files otherwise.
    */
  private def units(cfg: Ingest.Config, d: Ingest.Discovered): Seq[ImportUnit] =
    d.dataFiles.flatMap { case (p, k) =>
      if (!cfg.strictFormat) Seq(ImportUnit(p, k, 0, -1))
      else {
        val size = Files.size(java.nio.file.Paths.get(new java.net.URI(p)))
        (0L until math.max(size, 1L) by cfg.chunkBytes)
          .map(off => ImportUnit(p, k, off, math.min(cfg.chunkBytes, size - off)))
      }
    }

  def traced(spark: SparkSession, fx: Fixture, work: Path, untracedMedian: Double,
      spansOut: Path): Map[String, Double] = {
    val target = work.resolve("target")
    val state = work.resolve("state")
    deleteRec(target); deleteRec(state)
    isolate(spark)
    val cfg = config(fx, target, state)
    val tracer = Tracer.attach(spark)
    try {
      // part 1: the real import under the scheduler listener
      val reports = tracer.span("listener.import") { Ingest.run(spark, cfg) }
      val bad = reportProblems(reports, fx)
      require(bad.isEmpty, s"traced import failed: ${bad.mkString("; ")}")
      val imp = tracer.named("listener.import").head
      val iw = imp.window
      deleteRec(target); deleteRec(state)
      isolate(spark)
      // part 2: staged replay, one span per layer call
      val outcome = tracer.span("import") { replay(spark, cfg, tracer, target) }
      require(outcome.problems.isEmpty, s"traced replay failed: ${outcome.problems.mkString("; ")}")
      val root = tracer.named("import").head
      val wall = root.seconds
      val layers = Seq("discover", "schema", "sources", "transform.rowid",
        "transform.cast", "sink", "verify", "pipeline.analyze", "pipeline.state",
        "trace.materialize")
      val self = layers.map(l => l -> tracer.selfTotal(l)).toMap
      // the replay's root and per-table spans hold only orchestration, so
      // the self times of all spans add up to `wall` by construction
      val other = tracer.selfSeconds(root) + tracer.selfTotal("table")
      val sinkW = tracer.windowOf("sink")
      val outFiles = Files.walk(target).toArray.map(_.asInstanceOf[Path])
        .count(p => p.getFileName.toString.startsWith("part-"))
      Files.writeString(spansOut, tracer.toJson)
      val m = Map(
        "discover.list_s" -> self("discover"),
        "discover.files" -> outcome.files.toDouble,
        "schema.parse_s" -> self("schema"),
        "schema.tables" -> outcome.tables.toDouble,
        "sources.parse_s" -> self("sources"),
        "sources.parse_mib_s" -> fx.srcBytes / 1048576.0 / self("sources"),
        "sources.rows" -> outcome.rows.toDouble,
        "transform.cast_s" -> self("transform.cast"),
        "transform.bad_rows" -> outcome.badRows.toDouble,
        "transform.rowid_s" -> self("transform.rowid"),
        "transform.rowid_jobs" -> tracer.windowOf("transform.rowid").jobs.toDouble,
        "sink.write_s" -> self("sink"),
        "sink.jobs" -> sinkW.jobs.toDouble,
        "sink.shuffle_write_bytes" -> sinkW.shuffleWriteBytes.toDouble,
        "sink.files" -> outFiles.toDouble,
        "sink.out_bytes" -> Fixtures.dirBytes(target).toDouble,
        "verify.checksum_s" -> self("verify"),
        "verify.max_task_s" -> tracer.windowOf("verify").maxTaskS,
        "pipeline.analyze_s" -> self("pipeline.analyze"),
        "pipeline.state_s" -> self("pipeline.state"),
        "pipeline.jobs_per_table" -> iw.jobs.toDouble / reports.size,
        "pipeline.other_s" -> other,
        "trace.wall_s" -> wall,
        "trace.overhead_s" -> (wall - untracedMedian),
        "trace.materialize_s" -> self("trace.materialize"),
        "trace.listener_overhead_s" -> (imp.seconds - untracedMedian)
      ) ++ Layers.spark(iw, imp.seconds)
      deleteRec(target); deleteRec(state)
      m
    } finally Tracer.detach(spark, tracer)
  }

  /** `Ingest.run`'s layer order, one public call per span, each
    * materialized with a noop write. Layer outputs are checkpointed
    * (span `trace.materialize`) so a layer's span does not re-run the
    * layers before it. Tables replay one after another.
    */
  private def replay(spark: SparkSession, cfg: Ingest.Config, t: Tracer,
      target: Path): Outcome = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = t.span("discover") { Ingest.discover(spark, cfg) }
    val state = new JobState(cfg.stateDir)
    val taskTs = Some(new java.sql.Timestamp(System.currentTimeMillis()))
    var rows = 0L
    var bad = 0L
    val problems = tables.flatMap { d => t.span("table") {
      val key = s"${d.db}.${d.table}"
      val schema0 = t.span("schema") {
        MysqlDdl.parse(CharsetReader.readSchemaFile(conf, d.schemaFile.get, cfg.charset))
      }
      val rowidSchema = PerfbenchRowid.withRowid(schema0, cfg.clusteredIndex)
      val rowid = rowidSchema.isDefined
      val schema = rowidSchema.getOrElse(schema0)
      val us = units(cfg, d)
      val batches = if (us.exists(_.chunk)) us.grouped(math.max(1, cfg.chunkBatch)).toSeq else Seq(us)
      val out = s"$target/$key"
      var expected = KvChecksum(0L, 0L, 0L)
      var tokens = Seq.empty[String]
      batches.zipWithIndex.foreach { case (batch, i) =>
        val raw = t.span("sources") {
          val shards = batch.map { u =>
            val df = (u.kind, u.chunk) match {
              case (FileKind.Csv, true) =>
                MySqlCsv.readRawChunk(spark, u.path, u.start, u.len, schema0.colNames, cfg.csvDialect)
              case (FileKind.Csv, false) =>
                MySqlCsv.readRaw(spark, Seq(u.path), schema0.colNames, cfg.csvDialect)
              case (FileKind.Sql, true) =>
                DumpSource.readRawChunk(spark, u.path, u.start, u.len, schema.colNames)
              case (FileKind.Sql, false) =>
                DumpSource.readRaw(spark, Seq(u.path), schema.colNames, cfg.charset)
              case (k, _) => throw new IllegalStateException(s"unexpected unit kind $k")
            }
            if (!rowid || df.columns.contains(Ingest.TidbRowidCol)) df
            else df.withColumn(Ingest.TidbRowidCol, lit(null).cast("string"))
          }
          val union = shards.reduce(_.unionByName(_))
          val resolved =
            if (!batch.exists(_.kind == FileKind.Sql)) union
            else DumpSource.resolveHex(RowTransform.applyOmittedDefaults(union, schema, taskTs), schema)
          rows += noopObserved(resolved, count(lit(1)))
          resolved
        }
        val rawM = t.span("trace.materialize") { raw.localCheckpoint(true) }
        val filled =
          if (!rowid) rawM
          else {
            val f = t.span("transform.rowid") {
              // shards that carry the column (SQL dumps read by name)
              // first need its explicit max, as in the import
              val base =
                if (!batch.exists(_.kind == FileKind.Sql)) 0L
                else {
                  val st = rawM.agg(max(col(Ingest.TidbRowidCol).cast("long")),
                    count(when(col(Ingest.TidbRowidCol).isNull, 1))).head
                  if (st.isNullAt(0)) 0L else st.getLong(0)
                }
              val withId = RowTransform.chunkedRowId(rawM, RowidFill, base)
                .withColumn(Ingest.TidbRowidCol,
                  coalesce(col(Ingest.TidbRowidCol), col(RowidFill).cast("string")))
                .drop(RowidFill)
              noop(withId)
              withId
            }
            t.span("trace.materialize") { f.localCheckpoint(true) }
          }
        val typed = t.span("transform.cast") {
          val ty = GeneratedColumns(RowTransform.applySchemaWithErrors(filled, schema,
            RowTransform.CastPolicy.NullOut, taskTs), schema, GeneratedColumns.SessionVars())
          bad += noopObserved(ty, coalesce(sum(col(RowTransform.ErrorsCol)), lit(0L)))
          ty
        }
        val typedM = t.span("trace.materialize") { typed.localCheckpoint(true) }
        val dataCols = typedM.columns.toSeq.filterNot(_ == RowTransform.ErrorsCol)
        val obs = Observation()
        t.span("sink") {
          SortedParquetSink.writeObservedMetrics(typedM, out, schema.primaryKey, obs,
            _ => Seq(Checksum.checksumColOf(dataCols),
              coalesce(sum(col(RowTransform.ErrorsCol)), lit(0L)).as("bad_rows")) ++
              (if (rowid) Seq(coalesce(max(col(Ingest.TidbRowidCol).cast("long")), lit(0L))
                .as("max_tidb_rowid")) else Nil),
            dropCols = Seq(RowTransform.ErrorsCol),
            mode = if (i == 0) "overwrite" else "append")
        }
        expected = expected.add(Checksum.fromMetric(obs.get("kv_checksum")))
        tokens = tokens ++ batch.map(_.token)
        if (i < batches.size - 1) t.span("pipeline.state") {
          state.put(JobState.Record(key, "imported", expected.totalKvs, expected.checksum,
            expected.totalBytes, tokens))
        }
      }
      val post = t.span("verify") { checksumOf(spark.read.parquet(out)) }
      if (cfg.analyze) t.span("pipeline.analyze") { Analyze.analyze(spark, key, out) }
      t.span("pipeline.state") {
        state.put(JobState.Record(key, "verified", post.totalKvs, post.checksum,
          post.totalBytes, tokens))
      }
      if (Checksum.matches(expected, post)) Nil else Seq(s"$key: replay read-back checksum mismatch")
    } }
    Outcome(tables.map(d => d.dataFiles.size + d.schemaFile.size).sum, tables.size, rows, bad,
      problems ++ (if (bad != 0) Seq(s"$bad bad rows in replay") else Nil))
  }
}

/** Scheduler counters as the `spark.*` per-layer metrics. */
object Layers {
  def spark(w: Window, wallS: Double): Map[String, Double] = Map(
    "spark.jobs" -> w.jobs.toDouble,
    "spark.stages" -> w.stages.toDouble,
    "spark.tasks" -> w.tasks.toDouble,
    "spark.task_s" -> w.taskS,
    "spark.cpu_s" -> w.cpuS,
    "spark.gc_s" -> w.gcS,
    "spark.max_task_s" -> w.maxTaskS,
    "spark.parallel_eff" -> w.taskS / (wallS * Workloads.cores),
    "spark.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
    "spark.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
    "spark.spill_bytes" -> w.spillBytes.toDouble)
}

// ------------------------------------------------------------------ imports

object DumpBulk extends ImportWorkload {
  val name = "dump_bulk"
  val pinKey = "lineitem_typed"

  def generate(spark: SparkSession, dir: Path, seed: Long): Fixture = {
    Files.createDirectories(dir)
    Fixtures.schemaCreate(dir)
    Files.writeString(dir.resolve(s"${Fixtures.Db}.lineitem-schema.sql"), Fixtures.LineitemDdl)
    val perm = Fixtures.permutation(Workloads.LineitemRows, seed)
    val files = Workloads.cores
    val per = (perm.length + files - 1) / files
    // one thread per file: a single thread's pace swings with its core's
    // load far more than all cores' pace does, and set-up is timed
    java.util.stream.IntStream.range(0, files).parallel().forEach { f =>
      val rows = perm.iterator.slice(f * per, (f + 1) * per).map(i => Fixtures.lineitem(i.toLong))
      Fixtures.writeSql(dir.resolve(f"${Fixtures.Db}.lineitem.$f%05d.sql"), "lineitem", rows)
    }
    Fixture(dir, Fixtures.dirBytes(dir), Map(s"${Fixtures.Db}.lineitem" -> Workloads.LineitemRows.toLong),
      Fixtures.dirDigest(dir))
  }

  def layoutProblems(seed: Long): Seq[String] =
    LayoutCheck.permutation(Workloads.LineitemRows, seed)

  def config(fx: Fixture, target: Path, state: Path): Ingest.Config =
    Ingest.Config(sourceDir = fx.dir.toString, targetDir = target.toString)
}

object ManyTablesW extends ImportWorkload {
  val name = "many_tables"
  val pinKey = "customer_typed"
  val MinRows = 100

  private def table(t: Int): String = f"cust_$t%02d"

  /** The skewed size profile, largest first. It is fixed, so every seed
    * imports the same mix of table sizes and formats; SQL takes sizes
    * 0, 3, 4, 7, 8, ... so both formats get the same spread.
    */
  private val profile: Array[Int] =
    Fixtures.sizeSplit(Workloads.CustomerRows, Workloads.ManyTables, MinRows, 0L).sorted.reverse
  private def sqlSlot(k: Int): Boolean = k % 4 == 0 || k % 4 == 3

  /** The seed's split: table t takes size slot `slots(t)`, and rows are
    * dealt to tables in the order of a seeded permutation.
    */
  private def slots(seed: Long): Array[Int] = Fixtures.permutation(Workloads.ManyTables, seed)

  def generate(spark: SparkSession, dir: Path, seed: Long): Fixture = {
    Files.createDirectories(dir)
    Fixtures.schemaCreate(dir)
    val slot = slots(seed)
    val rowOrder = Fixtures.permutation(Workloads.CustomerRows, seed ^ 0x5eedL)
    var first = 0
    (0 until Workloads.ManyTables).foreach { t =>
      val name = table(t)
      val n = profile(slot(t))
      Files.writeString(dir.resolve(s"${Fixtures.Db}.$name-schema.sql"), Fixtures.customerDdl(name))
      val rows = rowOrder.iterator.slice(first, first + n).map(i => Fixtures.customer(i.toLong))
      if (sqlSlot(slot(t))) Fixtures.writeSql(dir.resolve(s"${Fixtures.Db}.$name.000000000.sql"), name, rows)
      else Fixtures.writeCsv(dir.resolve(s"${Fixtures.Db}.$name.000000000.csv"), rows)
      first += n
    }
    Fixture(dir, Fixtures.dirBytes(dir),
      (0 until Workloads.ManyTables).map(t => s"${Fixtures.Db}.${table(t)}" -> profile(slot(t)).toLong).toMap,
      Fixtures.dirDigest(dir))
  }

  def layoutProblems(seed: Long): Seq[String] = Seq(
    if (profile.sum != Workloads.CustomerRows) Some("table sizes do not add up to the row count") else None,
    if (profile.min < MinRows) Some(s"a table has fewer than $MinRows rows") else None,
    if (slots(seed).sameElements(slots(seed + 1))) Some("another seed gives the same table-size split")
    else None
  ).flatten ++ LayoutCheck.permutation(Workloads.CustomerRows, seed ^ 0x5eedL)

  /** Strict format byte-ranges every file into `ChunkBytes` chunks, so
    * CSV goes through the chunk tokenizer, and the largest table of the
    * skewed profile spans two chunk batches (an append plus a state
    * record between them).
    */
  val ChunkBytes: Long = 64L << 10

  def config(fx: Fixture, target: Path, state: Path): Ingest.Config =
    Ingest.Config(sourceDir = fx.dir.toString, targetDir = target.toString,
      tableConcurrency = Workloads.cores, strictFormat = true, chunkBytes = ChunkBytes,
      stateDir = Some(state.toString))
}

object LayoutCheck {
  /** The seed must move rows, and only move them. */
  def permutation(n: Int, seed: Long): Seq[String] = {
    val a = Fixtures.permutation(n, seed)
    val b = Fixtures.permutation(n, seed + 1)
    Seq(
      if (a.sorted.sameElements(0 until n)) None else Some("layout is not a permutation of the rows"),
      if (a.sameElements(b)) Some("another seed gives the same row layout") else None
    ).flatten
  }
}

// --------------------------------------------------------------- pair_dedup

object PairDedup extends Workload {
  import Workloads._
  val name = "pair_dedup"

  private val Vocab = ("spark line column order small sort fast value scan hash query agg " +
    "table join group key merge filter stream batch vector big slow the a part customer " +
    "index page block shard route plan cache write read chunk range merge tuple row").split(" ")
  private val Sources = Array("web", "forum", "news", "wiki", "code", "books", "mail", "docs")

  private def h(i: Long, f: Int, n: Int): Int = Fixtures.pick(i, f, n, 0x632BE59BD9B4E019L)

  private def baseWords(i: Int): Array[String] =
    Array.tabulate(12 + h(i, 1, 60))(k => Vocab(h(i, 100 + k, Vocab.length)))

  /** Fixed corpus: every sixth document is a near-copy of an earlier
    * one (a few words swapped), so every pair query finds pairs.
    */
  def doc(i: Int): Row = {
    val ws =
      if (i >= 10 && h(i, 2, 6) == 0) {
        val w = baseWords(h(i, 3, i)).clone()
        (0 until 1 + h(i, 4, 3)).foreach(k => w(h(i, 10 + k, w.length)) = Vocab(h(i, 20 + k, Vocab.length)))
        w
      } else baseWords(i)
    val text = ws.mkString(" ")
    val lang = h(i, 5, 10) match { case 0 => "de"; case 1 => "fr"; case _ => "en" }
    Row(i.toLong, text, lang, Sources(h(i, 6, Sources.length)), text.length.toLong)
  }

  def generate(spark: SparkSession, dir: Path, seed: Long): Fixture = {
    Files.createDirectories(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val rows = (0 until Documents).map(doc)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val content = checksumOf(spark.read.parquet(dir.resolve("documents.parquet").toString))
    Fixture(dir, Fixtures.dirBytes(dir.resolve("documents.parquet")), Map.empty, render(content))
  }

  def layoutProblems(seed: Long): Seq[String] = Nil

  /** One pass over the basket: each query's result is materialized by a
    * noop write that also observes its order-independent digest.
    */
  def pass(spark: SparkSession, fx: Fixture, work: Path,
      inspect: Path => Seq[String]): Pass = {
    var total = 0.0
    var outBytes = 0L
    val problems = PairQueries.flatMap { q =>
      isolate(spark)
      val t0 = System.nanoTime()
      val got = try {
        val df = graft.SparkEntry.queries(q)(spark, fx.dir.toString)
        val obs = Observation()
        noop(df.observe(obs, Checksum.checksumCol(df)))
        Right(Checksum.fromMetric(obs.get("kv_checksum")))
      } catch { case e: Throwable => Left(e) }
      total += (System.nanoTime() - t0) / 1e9
      got match {
        case Left(e) => Seq(s"$q threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(k) =>
          outBytes += k.totalBytes
          Pins.check(q, render(k))
      }
    }
    Pass(total, outBytes, problems)
  }

  def outputProblems(spark: SparkSession, out: Path): Seq[String] = Nil

  def traced(spark: SparkSession, fx: Fixture, work: Path, untracedMedian: Double,
      spansOut: Path): Map[String, Double] = {
    val tracer = Tracer.attach(spark)
    try {
      val problems = tracer.span("queries") {
        PairQueries.flatMap { q =>
          isolate(spark)
          tracer.span(s"operators.$q") {
            val df = graft.SparkEntry.queries(q)(spark, fx.dir.toString)
            val obs = Observation()
            noop(df.observe(obs, Checksum.checksumCol(df)))
            Pins.check(q, render(Checksum.fromMetric(obs.get("kv_checksum"))))
          }
        }
      }
      require(problems.isEmpty, s"traced pass failed: ${problems.mkString("; ")}")
      val root = tracer.named("queries").head
      Files.writeString(spansOut, tracer.toJson)
      val ops = PairQueries.flatMap { q =>
        val s = tracer.named(s"operators.$q").head
        Seq(s"operators.${q}_s" -> s.seconds, s"operators.${q}_jobs" -> s.window.jobs.toDouble,
          s"operators.${q}_max_task_s" -> s.window.maxTaskS)
      }.toMap
      ops ++ Layers.spark(root.window, root.seconds) ++ Map(
        "pipeline.other_s" -> tracer.selfSeconds(root),
        "trace.wall_s" -> root.seconds,
        "trace.overhead_s" -> (root.seconds - untracedMedian),
        "trace.listener_overhead_s" -> (root.seconds - untracedMedian))
    } finally Tracer.detach(spark, tracer)
  }
}
