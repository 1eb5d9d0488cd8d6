package graftbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** The curation pass: DSIR weighting and the sentence-piece tokenize
  * family from `SparkEntry`, exhausted to the noop sink in name order with
  * graft.Bench's hygiene (clearCache plus GC after each query, trained
  * artifacts cleared between passes). The first pass writes each query's
  * rows for the oracle check and doubles as the warm-up at the timed scale;
  * timed passes follow until the run's seconds are spent.
  *
  * None of these queries reads a shared trained artifact, so the pass has
  * no artifact phase. A pass of all 13 heavy curation queries plus
  * `trainArtifacts` takes about a minute even on a 300-document corpus on
  * 4 cores, more than one benchmark run can spend.
  */
final class CurationBench(run: Run) {
  import run.spark

  val queries: Seq[String] =
    Seq("q_dsir_incremental", "q_sb_assign", "q_sb_score")

  private def pass(p: Int, traced: Boolean, sink: (String, org.apache.spark.sql.DataFrame) => Unit) =
    queries.map { name =>
      val (_, start, end) = run.op(s"q:$name:$p") {
        run.span(s"q.$name", s"pass$p", traced)(sink(name, SparkEntry.queries(name)(spark, run.data)))
      }
      spark.catalog.clearCache()
      System.gc()
      Map("name" -> name, "start_ms" -> start, "end_ms" -> end)
    }

  def measure(): Unit = {
    run.put("setup_reps_s", (1 to 3).map { _ =>
      val t = run.nowMs()
      Tables.documents(spark, run.data).count()
      (run.nowMs() - t) / 1e3
    })
    val out = s"${run.work}/out"
    val w = run.nowMs()
    pass(0, traced = false, (name, df) => df.write.mode("overwrite").parquet(s"$out/$name"))
    run.put("warmup_s", (run.nowMs() - w) / 1e3)
    run.put("oracles", queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap)
    run.put("outputs", out)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = run.nowMs()
    var p = 1
    while (p <= 2 || run.nowMs() - start < run.seconds * 1000) {
      SparkEntry.clearTrainedArtifacts()
      val traced = run.trace && p % 2 == 0
      passes += Map("pass" -> p, "traced" -> traced,
        "queries" -> pass(p, traced, (_, df) => run.exhaust(df)))
      p += 1
    }
    run.put("passes", passes.toSeq)
  }
}
