package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.operators.{Corpus, Dedup}
import graft.sources.{FileBloomIndex, IndexMaintenance, PartitionUpsert, PartitionedSink}
import graft.streaming.StreamOps

/** One pass of a workload's loop: its latency samples, the input rows it
  * processed, the seconds it spent in calls into the program (not in the
  * benchmark's own accounting and checks), and a digest of its outputs
  * (equal digests ⇔ equal outputs for the same input).
  */
final case class Rec(opMs: Seq[Double], writeMs: Seq[Double], rows: Long, callS: Double,
    digest: String, failed: Int = 0, checks: Int = 0)

/** Everything a workload needs: session, tracer and its directories. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String,
    val work: String) {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Materialise a stage inside a traced span: cache it and run a noop
    * write, so the span measures execution and not just plan building.
    */
  def materialize(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Order-independent digest of a result: row count and a bounded hash sum. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*), lit(1L << 30)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
  }

  def filesUnder(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    val w = Files.walk(p)
    try w.iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally w.close()
  }
}

/** A workload: timed set-up repetitions, then closed-loop rounds. `copy`
  * selects an independent staged copy (the traced pass replays the
  * untraced pass's rounds from a fresh copy, so their outputs compare).
  */
trait Workload {
  def stage(copy: Int): Unit
  def round(i: Int, copy: Int): Rec
  /** Untimed round before the loop (JIT, codegen, staging memos), on a
    * copy no pass uses.
    */
  def warmup(): Unit = round(0, 2)
  /** Bytes written and bytes stored, each per input byte. */
  def bytesPerInputByte(copy: Int): (Double, Double)
  /** Outputs the python checks read; returns facts they need. */
  def finish(copy: Int): Map[String, Any] = Map.empty
  def layerMetrics(recs: Seq[Rec]): Map[String, Double] = Map.empty
  /** Text this workload carries, for the single-threaded kernel timings. */
  def texts: Seq[String]
}

final class CorpusBuild(c: Ctx) extends Workload {
  import c._
  private def documents(): DataFrame = tr("tables.documents") { Tables.documents(spark, data) }
  private val docs = documents()
  private val out = s"$work/corpus_out"
  private var nDocs = 0L
  private val yields = mutable.ArrayBuffer.empty[Double]

  def stage(copy: Int): Unit = { nDocs = docs.count() }

  private val checkOut = s"$work/corpus_check_out"

  private def land(built: DataFrame, to: String = out): Array[Row] =
    PartitionedSink.writeAndSummarize(built, "split", "n_copies", to).collect()

  /** One untimed build, on the small check corpus: it warms the JVM and
    * lands what the oracle check reads. Each timed build must land the
    * first timed build's summary.
    */
  override def warmup(): Unit =
    land(Corpus.trainingBuild(Tables.documents(spark, s"$data/check")), checkOut)

  private var firstSummary = ""

  private def key(summary: Array[Row]): String = summary.map(_.toString).sorted.mkString(";")

  def round(i: Int, copy: Int): Rec = {
    val t0 = System.nanoTime()
    var writeMs = 0.0
    val summary = if (!tr.enabled) {
      val docs = documents()
      val built = Corpus.trainingBuild(docs)
      val t1 = System.nanoTime()
      val s = land(built)
      writeMs = ms(t1)
      s
    } else tr("op.build") {
      val docs = documents()
      // the build's stages, each materialised on its own and kept cached
      // until trainingBuild has run: trainingBuild rebuilds the same
      // quality/exact and fuzzy-pairs plans, which the cache then serves,
      // so neither is computed twice. Its own eager work is what is left:
      // dedupGroups' label propagation over the cached pairs and the
      // split table's checkpoint.
      val sets = tr("operators.buildDedupSets") {
        materialize(Corpus.buildDedupSets(docs))
      }
      val pairs = tr("operators.ngramJaccardFromSets") {
        val p = materialize(Dedup.ngramJaccardFromSets(
          sets.filter(col("nsh") > 0).select(col("doc_id"), col("sh"), col("nsh"))))
        tr.drain()
        yields ++= pairYield(tr.lastQe)
        p
      }
      val built = tr("operators.trainingBuild") { Corpus.trainingBuild(docs) }
      pairs.unpersist(); sets.unpersist()
      val rolled = tr("operators.trainingRollup") { materialize(built) }
      val t1 = System.nanoTime()
      val s = tr("sources.writeAndSummarize") { land(rolled) }
      writeMs = ms(t1)
      rolled.unpersist()
      s
    }
    val opMs = ms(t0)
    if (i == 0) firstSummary = key(summary)
    Rec(Seq(opMs), Seq(writeMs), nDocs, opMs / 1e3, "build|" + key(summary),
      failed = if (key(summary) == firstSummary) 0 else 1, checks = 1)
  }

  /** Verified pairs over candidate pairs, from the materialising write's
    * plan: the candidates are the rows out of the pairs plan's final
    * (doc_a, doc_b) aggregate, before the tau filter; the verified pairs
    * are the rows the cached pairs table holds.
    */
  private def pairYield(qe: org.apache.spark.sql.execution.QueryExecution): Option[Double] = {
    val nodes = Option(qe).toSeq.flatMap(q => PlanWalk.nodes(q.executedPlan))
    def rows(p: org.apache.spark.sql.execution.SparkPlan) =
      p.metrics.get("numOutputRows").map(_.value).filter(_ > 0)
    def pairs(p: org.apache.spark.sql.execution.SparkPlan) =
      p.output.map(_.name).take(2) == Seq("doc_a", "doc_b")
    val candidates = nodes.filter(p => p.nodeName.contains("Aggregate") && pairs(p))
      .flatMap(rows)
    val verified = nodes.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec if pairs(m) => m
    }.flatMap(rows)
    if (candidates.isEmpty || verified.isEmpty) None
    else Some(verified.head.toDouble / candidates.min)
  }

  /** The landed tree per byte of corpus parquet (each build overwrites it). */
  def bytesPerInputByte(copy: Int): (Double, Double) = {
    val r = c.bytesUnder(out).toDouble / c.bytesUnder(s"$data/documents.parquet")
    (r, r)
  }

  override def finish(copy: Int): Map[String, Any] =
    Map("corpus_out" -> out, "corpus_check_out" -> checkOut)
  override def layerMetrics(recs: Seq[Rec]): Map[String, Double] =
    Map("operators.pair_yield" -> Stats.mean(yields.toSeq))
  def texts: Seq[String] =
    docs.select("text").limit(2000).collect().map(_.getString(0)).toSeq
}

/** A versioned document table: one CDC batch per round (apply + bloom
  * index refresh), then a fixed number of point lookups.
  */
final class TableServe(c: Ctx) extends Workload {
  import c._
  private val schema = PartitionUpsert.convergentSchema
  private val docs = Tables.documents(spark, data)
  private val changeSchema = "doc_id BIGINT, lang STRING, seq BIGINT, op STRING, new_text STRING"
  private val changes: Map[Int, Seq[Row]] = spark.read.parquet(s"$data/changes.parquet")
    .collect().toSeq.groupBy(_.getInt(0)).map { case (b, rs) =>
      b -> rs.map(r => Row(r.getLong(1), r.getString(2), r.getLong(3), r.getString(4),
        if (r.isNullAt(5)) null else r.getString(5)))
    }
  private val lookups: Map[(Int, Int), Seq[Long]] = spark.read.parquet(s"$data/lookups.parquet")
    .collect().toSeq.groupBy(r => (r.getInt(0), r.getInt(1)))
    .map { case (k, rs) => k -> rs.map(_.getLong(2)).distinct.sorted }
  private val perRound = lookups.keys.map(_._2).max + 1
  val rounds: Int = changes.keys.max + 1

  private def dir(copy: Int) = s"$work/table_$copy"
  private val version = mutable.Map.empty[Int, Long].withDefaultValue(1L)
  private val applied = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val written = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
  private val userBytes = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
  private val affectedCounts = mutable.ArrayBuffer.empty[Int]
  private val bytesPerUpsert = mutable.ArrayBuffer.empty[Double]
  private val filesRead = mutable.ArrayBuffer.empty[Int]
  private val fpRates = mutable.ArrayBuffer.empty[Double]

  def stage(copy: Int): Unit = {
    val d = dir(copy)
    PartitionUpsert.stageConvergentBase(docs, d)
    IndexMaintenance.buildIndex(spark, d, s"$d/_bloom/v1", schema)
  }

  private def batch(r: Int): DataFrame =
    spark.createDataFrame(changes(r).asJava,
      org.apache.spark.sql.types.StructType.fromDDL(changeSchema))

  private def wanted(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")

  private def live(df: DataFrame, ids: Seq[Long]): DataFrame =
    df.filter(col("doc_id").isin(ids: _*) && !col("deleted"))
      .select(col("doc_id"), col("source"), col("text"), col("lang"))

  private def rowsKey(rs: Array[Row]): String = rs.map(_.toString).sorted.mkString(";")

  def round(i: Int, copy: Int): Rec = {
    val d = dir(copy)
    val before = tr("bench.accounting") { c.filesUnder(d) }
    val t0 = System.nanoTime()
    tr("op.upsert") {
      val affected = tr("sources.applyConvergent") {
        PartitionUpsert.applyConvergent(spark, d, batch(i))
      }
      val v = version(copy)
      tr("sources.refreshIndex") {
        IndexMaintenance.refreshIndex(spark, d,
          affected.map(IndexMaintenance.langDir).toSet, v, v + 1, schema)
      }
      version(copy) = v + 1
      if (tr.enabled) affectedCounts += affected.size
    }
    val upsertMs = ms(t0)
    val after = tr("bench.accounting") { c.filesUnder(d) }
    val newBytes = after.collect { case (f, sz) if !before.get(f).contains(sz) => sz }.sum.toDouble
    written(copy) += newBytes
    if (tr.enabled) bytesPerUpsert += newBytes
    userBytes(copy) += changes(i).map(r => 16.0 + r.getString(1).length + r.getString(3).length +
      Option(r.getString(4)).map(_.length).getOrElse(0)).sum
    applied(copy) = i + 1

    val idx = s"$d/_bloom/v${version(copy)}"
    var failed = 0
    var checks = 0
    val lookMs = mutable.ArrayBuffer.empty[Double]
    val results = (0 until perRound).map { j =>
      val ids = lookups((i, j))
      val t1 = System.nanoTime()
      val got = tr("op.lookup") {
        if (!tr.enabled)
          live(FileBloomIndex.fetchCandidates(spark, d, idx, schema, wanted(ids)), ids).collect()
        else {
          val cands = tr("sources.candidateFiles") {
            FileBloomIndex.candidateFiles(spark, idx, wanted(ids))
          }
          // the read half of fetchCandidates, keeping each row's file so
          // candidate files holding no wanted live id can be counted
          val rows = tr("sources.fetch") {
            if (cands.isEmpty) Array.empty[Row]
            else {
              val read = spark.read.option("basePath", d).schema(schema).parquet(cands: _*)
              read.filter(col("doc_id").isin(ids: _*) && !col("deleted"))
                .select(col("doc_id"), col("source"), col("text"), col("lang"),
                  col("_metadata.file_path").as("file")).collect()
            }
          }
          filesRead += cands.size
          if (cands.nonEmpty)
            fpRates += 1.0 - rows.map(_.getString(4)).distinct.length.toDouble / cands.size
          rows.map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3)))
        }
      }
      lookMs += ms(t1)
      // each round's first lookup is checked against a full scan of the
      // live state at the same point
      if (j == 0) {
        checks += 1
        val want = tr("check.lookup") {
          PartitionUpsert.convergentState(spark, d).filter(col("doc_id").isin(ids: _*))
            .select(col("doc_id"), col("source"), col("text"), col("lang")).collect()
        }
        if (rowsKey(want) != rowsKey(got)) failed += 1
      }
      rowsKey(got)
    }
    Rec(lookMs.toSeq, Seq(upsertMs), changes(i).size + lookups.filter(_._1._1 == i).values.map(_.size).sum,
      (upsertMs + lookMs.sum) / 1e3,
      s"$i|${results.map(_.hashCode).mkString(",")}", failed, checks)
  }

  /** New-file bytes per changelog byte; the final tree with every index
    * version per byte of user data submitted (base documents + changes).
    */
  def bytesPerInputByte(copy: Int): (Double, Double) = {
    val base = docs.agg(sum(length(col("text")) + length(col("source")) + length(col("lang")) + 8))
      .head().getLong(0).toDouble
    (written(copy) / userBytes(copy), c.bytesUnder(dir(copy)) / (base + userBytes(copy)))
  }

  override def finish(copy: Int): Map[String, Any] = {
    val out = s"$work/table_final"
    PartitionUpsert.convergentState(spark, dir(copy)).write.mode("overwrite").parquet(out)
    Map("table_final" -> out, "batches_applied" -> applied(copy))
  }

  override def layerMetrics(recs: Seq[Rec]): Map[String, Double] = Map(
    "sources.partitions_rewritten_per_upsert" -> Stats.mean(affectedCounts.map(_.toDouble).toSeq),
    "sources.bytes_written_per_upsert" -> Stats.mean(bytesPerUpsert.toSeq),
    "sources.index_versions" -> version.values.max.toDouble,
    "sources.files_read_per_lookup" -> Stats.mean(filesRead.map(_.toDouble).toSeq),
    "sources.bloom_fp_rate" -> Stats.mean(fpRates.toSeq))

  def texts: Seq[String] =
    docs.select("text").limit(2000).collect().map(_.getString(0)).toSeq
}

/** Per-key session state and stream-stream join state over seeded events;
  * latency samples are the micro-batches of each stream run.
  */
final class EventStream(c: Ctx) extends Workload {
  import c._
  private val ckpt = s"$work/stream_ckpt"
  private var writtenB = 0.0
  private var storedB = 0.0
  private var runs = 0
  private val last = mutable.Map.empty[String, DataFrame]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Each copy reads its own input directory. StreamOps memoizes its
    * staged input per directory, and reaches its staging only through a
    * stream call.
    */
  private def input(copy: Int) = s"$work/events_$copy"

  private val kinds: Seq[(String, String => DataFrame)] = Seq(
    "st02" -> (d => tr("streaming.streamSessions") { StreamOps.streamSessions(spark, d) }),
    "st18" -> (d => tr("streaming.streamStreamJoin") { StreamOps.streamStreamJoin(spark, d) }))

  /** Set-up: a fresh input directory, then the first call of each stream,
    * which writes its staged input (the sessions' events plus sentinel,
    * the join's ordered slices) and runs once. Three copies also warm
    * the JVM, so there is no separate warm-up round.
    */
  def stage(copy: Int): Unit = {
    Files.createDirectories(Paths.get(input(copy)))
    Files.copy(Paths.get(s"$data/events.parquet"), Paths.get(s"${input(copy)}/events.parquet"))
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
    kinds.foreach { case (_, run) =>
      run(input(copy))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
  override def warmup(): Unit = ()

  /** One run of each stream, so every round has the same mix of state. */
  def round(i: Int, copy: Int): Rec = {
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
    val recs = kinds.map { case (kind, run) =>
      StreamProgress.take()
      val t0 = System.nanoTime()
      val result = tr("op.stream") { run(input(copy)) }
      val callS = (System.nanoTime() - t0) / 1e9
      // the benchmark's own accounting: progress, checkpoint bytes, digest
      tr("bench.accounting") {
        tr.drain()
        val batches = StreamProgress.take()
        if (tr.enabled) progress ++= batches
        val b = c.bytesUnder(ckpt).toDouble
        writtenB += b
        runs += 1
        storedB = math.max(storedB, b)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        last(kind) = result
        def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        Rec(batches.map(dur(_, "triggerExecution")), batches.map(dur(_, "addBatch")),
          batches.map(_.numInputRows).sum, callS, s"$kind:${c.digest(result)}")
      }
    }
    Rec(recs.flatMap(_.opMs), recs.flatMap(_.writeMs), recs.map(_.rows).sum, recs.map(_.callS).sum,
      "streams|" + recs.map(_.digest).mkString(";"))
  }

  /** Checkpoint bytes written per stream run, and the largest checkpoint
    * a run left behind, per byte of events parquet.
    */
  def bytesPerInputByte(copy: Int): (Double, Double) = {
    val in = c.bytesUnder(s"$data/events.parquet").toDouble
    (writtenB / math.max(1, runs) / in, storedB / in)
  }

  override def finish(copy: Int): Map[String, Any] = last.map { case (k, df) =>
    val out = s"$work/stream_$k"
    df.write.mode("overwrite").parquet(out)
    k -> out
  }.toMap

  override def layerMetrics(recs: Seq[Rec]): Map[String, Double] = {
    val ps = progress.toSeq
    def d(k: String) = Stats.mean(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.mean(ps.map(p => p.stateOperators.map(f).sum))
    Map(
      "streaming.batches" -> ps.size.toDouble / math.max(1, recs.size),
      "streaming.rows_per_batch" -> Stats.mean(ps.map(_.numInputRows.toDouble)),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.wal_commit_ms" -> d("walCommit"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.state_rows" -> st(_.numRowsTotal.toDouble),
      "streaming.state_mb" -> st(_.memoryUsedBytes / 1e6),
      "streaming.state_commit_ms" -> st(_.commitTimeMs.toDouble))
  }

  def texts: Seq[String] = Tables.events(spark, data).select("props").limit(2000)
    .collect().map(_.getString(0)).toSeq
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Benchmark entry point: one workload, one seed's inputs, one run. Prints one
  * JSON object with the run's metrics, samples and check facts; the python
  * wrapper checks outputs and prints the benchmark's result line.
  */
object Main {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    require(!StreamOps.HarnessFilesPerTriggerOverridden,
      "GRAFT_HARNESS_FILES_PER_TRIGGER is set; it changes StreamOps' " +
        "micro-batch count, so the benchmark refuses to run under it")
    val workload = arg(args, "workload")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val work = arg(args, "work")
    val result = arg(args, "result")
    val cores = Runtime.getRuntime.availableProcessors()

    Heap.install()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.streaming.streamingQueryListeners", "graft.perfbench.StreamProgress")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    log("session started")

    val tr = new Tracer(spark, s"$workload-${arg(args, "seed")}")
    val ctx = new Ctx(spark, tr, data, work)
    val w: Workload = workload match {
      case "corpus_build" => new CorpusBuild(ctx)
      case "table_serve" => new TableServe(ctx)
      case "event_stream" => new EventStream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val maxRounds = w match { case t: TableServe => t.rounds; case _ => Int.MaxValue }

    // set-up: three timed stagings into independent copies
    val stageS = (0 until 3).map { copy =>
      val t = System.nanoTime(); w.stage(copy); (System.nanoTime() - t) / 1e9
    }

    log(s"set-up done: ${stageS.map(x => f"$x%.2f").mkString(", ")} s")
    w.warmup()
    // a traced run compares its untraced and traced rounds, so both must
    // run warm: one more untimed round, on the copy no pass uses
    if (trace) w.round(0, 2)
    log("warm-up done")

    StreamProgress.armed = true
    def pass(secs: Double, copy: Int, minRounds: Int): (Seq[Rec], Seq[Double], Double) = {
      val recs = mutable.ArrayBuffer.empty[Rec]
      val walls = mutable.ArrayBuffer.empty[Double]
      tr.drain()
      val (jobs0, taskMs0) = (tr.allJobs.get, tr.allTaskMs.get)
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while ((elapsed < secs || recs.size < minRounds) && recs.size < maxRounds) {
        val t = System.nanoTime()
        recs += (try w.round(recs.size, copy) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] round ${recs.size} failed: $e")
            Rec(Nil, Nil, 0L, 0.0, "failed", failed = 1)
        })
        walls += (System.nanoTime() - t) / 1e9
        // the heap is read over the first round only: later rounds would
        // add the garbage of earlier ones, and their count varies
        if (Heap.armed) { Heap.collectAndWait(); Heap.armed = false }
      }
      val window = elapsed
      tr.drain()
      val n = math.max(1, recs.size)
      log(f"${if (tr.enabled) "traced" else "untraced"} pass: " +
        f"${(tr.allJobs.get - jobs0).toDouble / n}%.1f jobs and " +
        f"${(tr.allTaskMs.get - taskMs0) / 1e3 / n}%.2f task s per round")
      (recs.toSeq, walls.toSeq, window)
    }

    System.gc() // each pass starts from a collected heap
    Heap.peakB = 0L
    Heap.armed = true
    // an untraced run times at least two rounds: a run that timed one round
    // here and two there would change what its medians mean
    val (recs, walls, windowS) = if (trace) pass(seconds / 2, 0, 1) else pass(seconds, 0, 2)
    log(s"untraced pass done: ${recs.size} rounds in ${"%.1f".format(windowS)} s; " +
      s"op ms ${recs.flatMap(_.opMs).map(x => f"$x%.0f").mkString(" ")}")

    val m = mutable.LinkedHashMap.empty[String, Double]
    val ops = recs.flatMap(_.opMs)
    val writes = recs.flatMap(_.writeMs)
    val (writtenRatio, storedRatio) = w.bytesPerInputByte(0)
    m("setup_s") = arg(args, "gen-s").toDouble + sessionS + Stats.median(stageS)
    // a run yields two builds or about twelve micro-batches: too few
    // samples to support any percentile above the median
    m("op_p50_ms") = Stats.median(ops)
    m("write_p50_ms") = Stats.median(writes)
    // per round, rows over the seconds spent in calls into the program;
    // the median, so one slow round moves it less than it would move a
    // rate over the whole window
    m("rows_per_s") = Stats.median(recs.filter(_.callS > 0).map(r => r.rows / r.callS))
    m("written_bytes_per_input_byte") = writtenRatio
    m("stored_bytes_per_input_byte") = storedRatio
    m("live_heap_peak_mb") = Heap.peakB / 1e6

    val facts = w.finish(0)
    log("outputs written")
    var failed = recs.map(_.failed).sum
    var attempted = recs.size + recs.map(_.checks).sum
    var allRecs = recs

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      tr.enabled = true
      System.gc()
      val phaseStart = System.nanoTime()
      val (trecs, twalls, _) = pass(seconds / 2, 1, 1)
      tr.enabled = false
      tr.drain()
      val phaseNs = (System.nanoTime() - phaseStart).toDouble
      failed += trecs.map(_.failed).sum
      allRecs = recs ++ trecs
      attempted += trecs.size + trecs.map(_.checks).sum
      val matched = math.min(recs.size, trecs.size)
      val identical = (0 until matched).forall(i => recs(i).digest == trecs(i).digest)
      if (!identical) {
        failed += 1
        System.err.println("[perfbench] traced outputs differ from untraced outputs")
      }
      attempted += 1
      layers ++= Layers.metrics(tr, trecs, w, phaseNs)
      layers("trace.overhead_pct") =
        (Stats.median(twalls.take(matched)) / Stats.median(walls.take(matched)) - 1.0) * 100.0
      layers("trace.outputs_identical") = if (identical) 1.0 else 0.0
      layers("trace.matched_rounds") = matched.toDouble
      layers ++= Layers.kernels(w.texts)
      tr.writeJson(s"$work/spans.json")
    }

    val oracleKeys = workload match {
      case "corpus_build" => Seq("p14_training_build")
      case "event_stream" => Seq("st02_stream_session", "st18_stream_join")
      case _ => Nil
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(s"$work/oracle.json"), oracleKeys
      .map(k => s"${quote(k)}:${quote(oracle(k))}").mkString("{", ",", "}").getBytes("UTF-8"))

    // rounds over the same input (digest key before '|') must land
    // identical outputs, within a pass and across the traced pass
    allRecs.filter(_.digest.contains("|")).groupBy(_.digest.takeWhile(_ != '|'))
      .values.filter(_.size > 1).foreach { group =>
        attempted += 1
        if (group.map(_.digest).distinct.size > 1) {
          failed += 1
          System.err.println(s"[perfbench] rounds over one input differ: ${group.head.digest.take(40)}")
        }
      }

    val json = new StringBuilder("{")
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    json ++= s""""e2e":{${m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}},"""
    json ++= s""""layers":{${layers.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}},"""
    json ++= s""""samples":{"op":${ops.size},"write":${writes.size},"rounds":${recs.size}},"""
    json ++= s""""attempted":$attempted,"failed":$failed,"""
    json ++= s""""facts":{${facts.map { case (k, v) => s"${quote(k)}:${quote(v.toString)}" }.mkString(",")}}"""
    json ++= "}"
    Files.write(Paths.get(result), json.toString.getBytes("UTF-8"))
    spark.stop()
    log("session stopped")
  }
}
