package graft.tools

import org.apache.spark.sql.SparkSession

/** p14 build-phase decomposition (r18 optimization round): PhaseProbe
  * reads p14 as build=4.4 s / write=1.7 s — the checkpointed split
  * table owns the build. This splits it into the pipeline's stages,
  * each a call into the SHIPPED stage functions over the shipped
  * once-materialized dedup sets (Corpus.withDedupSets), so the probe
  * cannot time a copy that drifts from trainingBuild (ADVICE r18 #2).
  * Each stage is materialized on top of the previous one, so a stage
  * pays only its own cost:
  *   sets    — quality scan + shingle digests + exact-dedup window
  *             and their checkpoint
  *   pairs   — d04 candidate pipeline over the sets
  *   groups  — d07 label loop over the pairs
  *   split   — anti-join + salted split + the checkpoint itself
  *   build   — trainingBuild (all of the above, as shipped)
  *   full    — build + the mixture/packing/rollup tail (noop write)
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt 'runMain graft.tools.P14Probe [reps]'
  */
object P14Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Corpus, Dedup}

    def report(label: String, t0: Long): Unit =
      println(f"P14: $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      report(label, t0)
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = graft.Tables.documents(spark, sfDir)

    (0 until reps).foreach { r =>
      println(s"P14: === rep $r ===")
      val t0 = System.nanoTime()
      Corpus.withDedupSets(docs) { sets =>
        report("sets chk (scan+quality+shingles+exact window)", t0)
        val pairs = time("pairs chk (d04 pipeline)") {
          Dedup.ngramJaccardFromSets(Corpus.fuzzyInput(sets))
            .localCheckpoint(true)
        }
        val groups = time("groups (d07 loop)") { Dedup.dedupGroups(pairs) }
        time("split chk (anti-join + salted split)") {
          Corpus.checkpointed(Corpus.splitTable(sets, groups))
        }
      }
      time("trainingBuild (sets + pairs + groups + split chk + plan)") {
        Corpus.trainingBuild(docs)
      }
      time("p14 full (build+write)") {
        noop(Corpus.trainingBuild(docs))
      }
    }
    spark.stop()
  }
}
