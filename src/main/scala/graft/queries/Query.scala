package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{EntrySupport, Tables}
import graft.ops.{Sim, Text}

/** One declared query: its Spark body, its DuckDB oracle, and the facts
  * Bench and Verify read about it.
  *
  * @param body            runs on a session that already carries
  *                        `Tables.sessionConfigs` (the registry applies
  *                        [[EntrySupport.ensure]] once, in
  *                        [[graft.SparkEntry.queries]])
  * @param modelStore      the body loads a trained model driver-side from
  *                        a qtmp store and embeds it as literals, which
  *                        Bench's plan walk cannot see; it is listed in
  *                        `fixture_readers` by this flag
  * @param fixtureCte      the oracle CTE at the fixture boundary, when the
  *                        body reads a prepare-materialized stage output
  *                        that the oracle recomputes from raw text; Verify
  *                        dumps it as oracle_fixture_cte.json so the
  *                        oracle's moved cost can be timed apart
  */
private[graft] final case class Query(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    modelStore: Boolean = false,
    fixtureCte: Option[String] = None)

private[graft] sealed trait Oracle

/** Oracle SQL that needs no trained model. */
private[graft] final case class Sql(text: String) extends Oracle

/** Oracle SQL that embeds a pinned model's literals, generated at Verify
  * time against the actual sfDir. DuckDB then recomputes the whole
  * search or encode from those literals.
  */
private[graft] final case class Pinned(sql: PinnedModels => String) extends Oracle

/** The models the [[Pinned]] oracles embed, each trained at most once
  * per instance by the same deterministic call the query's fixture
  * store uses. They are trained independently of that store, so a
  * drifted store fails the hash gate.
  */
private[graft] final class PinnedModels(s: SparkSession, dir: String) {
  import EntrySupport.{qvApproxLocal, spmTrain}

  private lazy val pq = Sim.pqTrainLocal(Tables.embeddings(s, dir),
    nCells = 8, m = 8, ks = 16, iters = 4, sampleMod = 2)
  /** IVF coarse centroids (q_sim_ann_kmeans configuration). */
  lazy val centroids: Sim.Centroids = pq._1
  /** PQ per-subspace codebooks over [[centroids]]. */
  lazy val codebooks: Sim.Codebooks = pq._2
  /** Quality-classifier weights and bias. */
  lazy val qualityLr: (Array[Double], Double) =
    Text.trainQualityLrLocal(
      Text.qualityCorpus(Tables.documents(s, dir)), dim = 256)
  lazy val bpeMerges: Seq[(String, String)] =
    Text.bpeTrain(Tables.documents(s, dir), nMerges = 32, minWordCount = 2L)
  lazy val spm: Seq[(String, Long)] = spmTrain(s, dir)
  /** The frozen approx-percentile thresholds q_quality_votes_approx
    * scores with (memoized per dir, so query and oracle share them). */
  lazy val qualityVoteMedians: (Double, Double, Double, Double) = qvApproxLocal(s, dir)
}
