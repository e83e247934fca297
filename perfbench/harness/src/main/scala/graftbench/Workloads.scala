package graftbench

import graft.operators._
import graft.sources.Tables
import graft.streaming.{EventStream, StreamQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One benchmark workload.
  *
  * @param queries registered query names one pass builds and counts, in
  *                order (a closed loop: the next query starts when the
  *                previous count has returned)
  * @param tables  the tables those queries read; the traced run times
  *                `Tables(spark, dir).table(t)` for each
  * @param chain   the operator calls behind the queries, made directly on
  *                the operator objects so the traced run can time each
  *                call's construction and its own output separately
  */
final case class Workload(
    name: String,
    queries: Seq[String],
    tables: Seq[String],
    chain: (Tables, Workloads.Op) => Unit)

object Workloads {

  /** Records one operator call: `name` labels it, `build` makes it. */
  trait Op {
    def apply(name: String)(build: => DataFrame): DataFrame
  }

  /** The paper's chain (dating → ontology propagation → top-K harmonic
    * scores → novelty): bound by data work — window top-K and shuffle.
    */
  val assocChain: Workload = Workload(
    "assoc_chain",
    Seq("q01_assoc_datasource", "q02_assoc_overall", "q03_novelty",
      "q04_novelty_datasource", "q05_indirect", "q10_full_pipeline"),
    Seq("lineitem", "supplier", "nation"),
    (t, op) => {
      val indirect = op("OntologyPropagate.indirect")(
        OntologyPropagate.indirect(t.evidence, t.ontology))
      val bySource = op("AssociationScore.byDatasource")(
        AssociationScore.byDatasource(indirect))
      val overall = op("AssociationScore.overall")(
        AssociationScore.overall(bySource, t.weights))
      op("Novelty.attach")(Novelty.attach(overall, Seq("diseaseId", "targetId")))
    })

  /** The LLM-data operators plus a streaming replay: work that runs while
    * the DataFrames are built — driver-side iteration (`Dedup.clusters`),
    * eager `localCheckpoint` cuts, Lloyd training rounds, and the replay
    * `StreamQueries.materialize` runs to completion. To keep a pass short,
    * q31 (whose pairs q47 builds), q121 (bound by its action) and q99
    * (cosine pairs into the same `clusters` loop as q47) are not in it;
    * their operator calls are all in the chain.
    */
  val llmDedup: Workload = Workload(
    "llm_dedup",
    Seq("q47_dedup_clusters", "q142_lexical_cosine", "q49_ann_ivf_trained",
      "q62_stream_dedup"),
    Seq("documents", "embeddings", "events"),
    (t, op) => {
      val pairs = op("Dedup.minhashLshPairs")(Dedup.minhashLshPairs(t.documents))
      op("Dedup.clusters")(Dedup.clusters(pairs.select("idA", "idB")))
      op("Dedup.prefixJaccardJoin")(Dedup.prefixJaccardJoin(t.documents))
      op("SimilaritySearch.cosineNearDupPairs")(
        SimilaritySearch.cosineNearDupPairs(t.embeddings))
      op("SimilaritySearch.ivfTopK")(SimilaritySearch.ivfTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0),
        nCentroids = 8, nProbe = 4, lloydIters = 2, replication = 4))
      op("TextAnalysis.lexicalCosinePairs")(TextAnalysis.lexicalCosinePairs(t.documents))
      // a streaming replay runs inside its own construction, so this
      // call's build time includes the whole replay
      op("EventStream.dedupeExact")(StreamQueries.materialize(
        EventStream.dedupeExact(StreamQueries.streamEvents(t.spark, t.dir),
          Seq("user_id", "event_type"), watermark = "3650 days")))
    })

  val all: Seq[Workload] = Seq(assocChain, llmDedup)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}
