package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle mode: ties the curation stages of `curate_ingest` to the engine's
  * standalone queries that are oracled against DuckDB. Over ONE copy of
  * the documents (the verbatim one), each stage's input is written out as a
  * `documents` table and the matching query runs on it; its result must
  * equal the pipeline's stage output. Prints the one-copy stage counts
  * that `Expected.curateOneCopy` records, and curated documents for
  * `Expected.stableSurvivors`.
  */
object Oracle {
  def run(spark: SparkSession, wl: Workload, data: Path, work: Path, seed: Long): Boolean = {
    require(wl == CurateIngest, "oracle mode covers the curation of curate_ingest")
    val one = Dirs.fresh(work.resolve("oracle-input"))
    CurateCorpus.generate(spark, one, seed, data, copies = 1)
    val docs = spark.read.parquet(one.resolve("documents.parquet").toString)
    val stages = CurateCorpus.pipeline(docs, new Spans(spark.sparkContext, traced = false))
    val out = stages.map { case (n, df, c) => n -> (df, c) }.toMap
    val q = graft.SparkEntry.queries
    def asDocs(name: String, df: DataFrame): String = {
      val dir = work.resolve("oracle-" + name)
      Dirs.fresh(dir)
      Inputs.writeFlat(df.select(Inputs.docSchema.fieldNames.map(col).toSeq: _*),
        dir.resolve("documents.parquet"))
      dir.toString
    }
    def withText(df: DataFrame) = df.withColumn("text", col("text_cleaned"))
      .withColumn("n_chars", length(col("text_cleaned")).cast("long"))
    val hash = Workloads.contentHash _
    val checks = Seq(
      "quality (q73_quality_rules)" -> (
        q("q73_quality_rules")(spark, asDocs("quality", docs)).agg(sum("n_pass")).head().getLong(0),
        out("quality")._2),
      "pairs (q38_minhash_pairs)" -> (
        q("q38_minhash_pairs")(spark, asDocs("pairs", out("exact")._1)).count(), out("pairs")._2),
      "spans (q85_dedup_cleaned)" -> (
        hash(q("q85_dedup_cleaned")(spark, asDocs("spans", out("survivors")._1))),
        hash(out("spans")._1.select("doc_id", "text_cleaned", "n_removed"))),
      "mixed (q75_mix_sample)" -> (
        q("q75_mix_sample")(spark, asDocs("mixed", withText(out("decontaminated")._1)))
          .agg(sum("n_kept")).head().getLong(0), out("mixed")._2),
      "packed (q59_pack_offsets)" -> (
        hash(q("q59_pack_offsets")(spark, asDocs("packed", withText(out("mixed")._1)))),
        hash(out("packed")._1)))
    checks.foreach { case (n, (want, got)) =>
      println(s"oracle ${if (want == got) "ok" else "MISMATCH"}: $n query=$want pipeline=$got")
    }
    println("one-copy stage counts: " +
      stages.map { case (n, _, c) => s""""$n" -> ${c}L""" }.mkString(", "))
    println("stable survivors: " + out("mixed")._1
      .join(docs.filter(length(col("text")) >= 100).select("doc_id"), "doc_id")
      .select("doc_id").orderBy("doc_id").limit(40).collect().map(_.getLong(0) + "L").mkString(", "))
    checks.forall { case (_, (want, got)) => want == got }
  }
}
