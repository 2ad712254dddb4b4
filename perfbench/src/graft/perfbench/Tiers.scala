package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.engine.Tables
import graft.operators._

/** The materialized tiers the query catalog probes, each built through
  * its public `prebuild*` builder into the content-addressed directory
  * `SparkEntry` resolves for the dataset — the same set and order as
  * `graft.Bench`. Tiers live under `java.io.tmpdir`, which the
  * benchmark points at a per-run directory, so every run builds every
  * tier cold: no run reuses another run's tiers.
  */
object Tiers {
  final case class Tier(name: String, dir: () => String, build: () => Boolean)

  def all(s: SparkSession, d: String): Seq[Tier] = {
    def docs = Tables.documents(s, d)
    def emb = Tables.embeddings(s, d)
    def oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    def oldEmb = emb.filter(col("vec_id") % 10 =!= 7)
    def tf = Some(TextAnalysis.tokenTfCached(docs, SparkEntry.tokenTfFor(s, d)))
    Seq(
      Tier("ivf", () => SparkEntry.ivfIndexFor(s, d),
        () => Similarity.prebuildIvfIndex(emb, SparkEntry.ivfIndexFor(s, d))),
      Tier("cc", () => SparkEntry.ccCascadeFor(s, d),
        () => Dedup.prebuildCascade(docs, SparkEntry.ccCascadeFor(s, d))),
      Tier("cc_old", () => SparkEntry.ccOldCascadeFor(s, d),
        () => Dedup.prebuildCascade(oldDocs, SparkEntry.ccOldCascadeFor(s, d), labels = false)),
      Tier("simhash", () => SparkEntry.simhashFor(s, d),
        () => Dedup.prebuildSimhashPairs(docs, SparkEntry.simhashFor(s, d))),
      Tier("simhash_old", () => SparkEntry.simhashOldFor(s, d),
        () => Dedup.prebuildSimhashPairs(oldDocs, SparkEntry.simhashOldFor(s, d))),
      Tier("pq", () => SparkEntry.pqIndexFor(s, d),
        () => Similarity.prebuildPqIndex(emb, SparkEntry.pqIndexFor(s, d))),
      Tier("pq_old", () => SparkEntry.pqOldIndexFor(s, d),
        () => Similarity.prebuildPqIndex(oldEmb, SparkEntry.pqOldIndexFor(s, d))),
      Tier("pair_families", () => SparkEntry.ccCascadeFor(s, d),
        () => Dedup.prebuildPairFamilies(docs, SparkEntry.ccCascadeFor(s, d))),
      Tier("props", () => SparkEntry.propsFor(s, d),
        () => JsonRouting.prebuildPropsLong(Tables.events(s, d), SparkEntry.propsFor(s, d))),
      Tier("ahash", () => SparkEntry.ahashFor(s, d),
        () => Multimodal.prebuildAhashSignatures(docs, SparkEntry.ahashFor(s, d))),
      Tier("ann_gt", () => SparkEntry.annGtFor(s, d),
        () => Similarity.prebuildAnnGroundTruth(emb, SparkEntry.annGtFor(s, d))),
      Tier("token_tf", () => SparkEntry.tokenTfFor(s, d),
        () => TextAnalysis.prebuildTokenTf(docs, SparkEntry.tokenTfFor(s, d))),
      Tier("arms", () => SparkEntry.armsFor(s, d),
        () => TextAnalysis.prebuildRetrievalArms(docs, SparkEntry.armsFor(s, d), tf)),
      Tier("textrank", () => SparkEntry.textRankFor(s, d),
        () => TextAnalysis.prebuildTextRank(docs, SparkEntry.textRankFor(s, d), tf)),
      Tier("kmeans", () => SparkEntry.kmCellsFor(s, d),
        () => Similarity.prebuildKmeansCells(emb, SparkEntry.kmCellsFor(s, d))),
      Tier("semcc", () => SparkEntry.semCcFor(s, d),
        () => Dedup.prebuildSemanticCc(emb, SparkEntry.semCcFor(s, d))),
      Tier("semcc_old", () => SparkEntry.semCcOldFor(s, d),
        () => Dedup.prebuildSemanticCc(oldEmb, SparkEntry.semCcOldFor(s, d), labels = false)),
      Tier("bigram_lm", () => SparkEntry.bigramLmFor(s, d),
        () => TextAnalysis.prebuildBigramLm(docs, SparkEntry.bigramLmFor(s, d))),
      Tier("phrase_idx", () => SparkEntry.phraseIdxFor(s, d),
        () => TextAnalysis.prebuildPhraseIndex(docs, SparkEntry.phraseIdxFor(s, d))))
  }

  def bytes(path: String): Long = {
    def go(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
      else f.length()
    go(new java.io.File(path))
  }
}
