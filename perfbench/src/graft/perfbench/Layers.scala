package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ShingleHashes, StopwordHits}
import graft.operators.TextAnalysis

/** Per-layer metrics of a traced pass. Every name is emitted for every
  * workload; a layer the workload never calls reads 0.
  */
object Layers {
  /** Layers whose spans Spark counters are also reported for. */
  val sparkLayers: Seq[String] = Seq("operators", "sources", "streaming", "tables")

  def metrics(tr: Tracer, recs: Seq[Rec], w: Workload,
      phaseNs: Double): Map[String, Double] = {
    // the benchmark's own work (`bench.*` accounting, `check.*` output
    // checks) is left out of every sum: only calls into the program count
    val (own, spans) = tr.spans.toSeq.partition(s => s.layer == "bench" || s.layer == "check")
    val rounds = math.max(1, recs.size).toDouble
    def meanMs(name: String): Double =
      Stats.mean(spans.filter(_.name == name).map(_.durNs / 1e6))
    val m = mutable.LinkedHashMap.empty[String, Double]

    m("operators.quality_s") = meanMs("operators.buildDedupSets") / 1e3
    m("operators.dedup_pairs_s") = meanMs("operators.ngramJaccardFromSets") / 1e3
    m("operators.dedup_groups_s") = meanMs("operators.trainingBuild") / 1e3
    m("operators.training_rollup_s") = meanMs("operators.trainingRollup") / 1e3
    m("operators.pair_yield") = 0.0

    m("sources.apply_ms") = meanMs("sources.applyConvergent")
    m("sources.index_refresh_ms") = meanMs("sources.refreshIndex")
    m("sources.partitions_rewritten_per_upsert") = 0.0
    m("sources.bytes_written_per_upsert") = 0.0
    m("sources.index_versions") = 0.0
    m("sources.probe_ms") = meanMs("sources.candidateFiles")
    m("sources.fetch_ms") = meanMs("sources.fetch")
    m("sources.files_read_per_lookup") = 0.0
    m("sources.bloom_fp_rate") = 0.0
    m("sources.sink_ms") = meanMs("sources.writeAndSummarize")

    Seq("batches", "rows_per_batch", "add_batch_ms", "wal_commit_ms",
      "query_planning_ms", "state_rows", "state_mb", "state_commit_ms")
      .foreach(k => m(s"streaming.$k") = 0.0)

    val workload = w.layerMetrics(recs)
    require(workload.keySet.subsetOf(m.keySet), s"unlisted metrics ${workload.keySet -- m.keySet}")
    m ++= workload

    // Spark counters: per round of the loop, over every span, then per layer
    val all = spans.map(tr.countersOf)
    def sparkOf(cs: Seq[Counters], prefix: String): Unit = {
      m(s"$prefix.jobs") = cs.map(_.jobs).sum / rounds
      m(s"$prefix.task_s") = cs.map(_.taskMs).sum / 1e3 / rounds
      m(s"$prefix.plan_ms") = cs.map(_.planMs).sum / rounds
    }
    sparkOf(all, "spark")
    m("spark.tasks") = all.map(_.tasks).sum / rounds
    m("spark.scheduler_delay_ms") = all.map(_.schedDelayMs).sum / rounds
    m("spark.gc_s") = all.map(_.gcMs).sum / 1e3 / rounds
    m("spark.shuffle_write_mb") = all.map(_.shuffleWriteB).sum / 1e6 / rounds
    m("spark.spill_mb") = all.map(_.spillB).sum / 1e6 / rounds
    // slowest task over median task, averaged over stages of 2+ tasks
    val skews = all.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ds =>
      ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
    }
    m("spark.task_skew") = Stats.mean(skews)
    sparkLayers.foreach { l =>
      sparkOf(spans.filter(_.layer == l).map(tr.countersOf), s"spark.$l")
      m(s"$l.self_ms") = spans.filter(_.layer == l).map(tr.selfNs).sum / 1e6 / rounds
    }

    m("tables.scan_mb") = all.map(_.scanB).sum / 1e6 / rounds
    m("tables.scan_ms") = all.map(_.scanMs).sum.toDouble / rounds

    // top-level program spans over the traced pass's wall time, less the
    // time of the benchmark's own top-level spans
    val top = spans.filter(_.parent < 0)
    val ownNs = own.filter(_.parent < 0).map(_.durNs).sum
    m("trace.top_span_coverage") = top.map(_.durNs).sum / (phaseNs - ownNs)
    m("trace.spans") = spans.size.toDouble
    m.toMap
  }

  /** Single-threaded kernel timings over the workload's own text: shingle
    * hashing per KB of text and stopword counting per document.
    */
  def kernels(texts: Seq[String]): Map[String, Double] = {
    val docs = texts.filter(_ != null).map(UTF8String.fromString)
    val kb = math.max(1, docs.map(_.numBytes).sum) / 1024.0
    val toks = texts.filter(_ != null).map(t => new GenericArrayData(
      t.trim.toLowerCase.split("\\s+").map(UTF8String.fromString).toArray[Any]))
    val set = StopwordHits.buildSet(TextAnalysis.stopwords.toMap.apply("en"))
    var sink = 0L
    def timed(body: => Unit): Double = {
      body // warm
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / reps
    }
    val shingleNs = timed(docs.foreach(d =>
      sink += ShingleHashes.compute(d, 3, true, false).numElements()))
    val stopNs = timed(toks.foreach(t => sink += StopwordHits.compute(t, set)))
    if (sink == 42L) println("") // keeps the kernel results live
    Map("functions.shingle_hash_ns_per_kb" -> shingleNs / kb,
      "functions.stopword_hits_ns_per_doc" -> stopNs / math.max(1, toks.size))
  }
}
