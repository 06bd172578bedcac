package graft.streaming

import graft.io.Io
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING LM MAINTENANCE — the streaming twin of q174's Kneser–Ney
  * training stage: the LM's ONLY stored state is the bigram count table
  * (gram → c12), and counts are ADDITIVE across training batches, so the
  * maintainer is the shared [[EpochStore]] epoch-gated merge with the gram
  * as the cell key. Everything else KN needs — context marginals c1 and
  * N₁₊(w1,·), continuation counts N₁₊(·,w2), the distinct-bigram total
  * ctot — is a vocabulary-bounded DERIVATION of that table, recomputed at
  * read time by the same [[TextOps.knScoreWith]] the batch operator uses,
  * which makes "maintained score ≡ batch recompute" definitional once the
  * counts match cell-for-cell (LmStreamSpec pins both).
  *
  * This is the production shape of the CCNet/KenLM quality filter at 100
  * TB: the reference store arrives incrementally (a crawl ingest), the LM
  * table keeps absorbing counts without ever re-reading absorbed batches,
  * and scoring runs against the maintained table at any point. The
  * seventh maintained measure class: MODEL PARAMETERS whose sufficient
  * statistics are additive (the KN counts), after additive sums, distinct
  * sketches, heavy hitters, rate/quantile cells, ordered milestones, and
  * uncertainty-carrying moments. Derived smoothing quantities are
  * deliberately NOT stored — continuation counts are distinct-context
  * counts, which do NOT add across batches (the same (w1, w2) in two
  * batches must count once); deriving them from the merged gram table is
  * what keeps the maintained state linear. */
object LmStream {

  /** Merge one micro-batch of TRAINING docs (doc_id, text) into the gram
    * count store. Idempotent per (gram, epoch). */
  def applyBatch(spark: SparkSession, trainDelta: DataFrame, cellsPath: String,
                 epoch: Long): Unit =
    EpochStore.mergeAdditive(spark,
      TextOps.knGramCounts(trainDelta)
        .select(col("gram").as("cell"), col("gram"), col("c12")),
      cellsPath, "cell", epoch, Seq("c12"))

  /** The maintained (gram, c12) corpus frame — batch-equal to
    * [[TextOps.knGramCounts]] over every training doc absorbed. */
  def readCorpus(spark: SparkSession, cellsPath: String): DataFrame =
    Io.readDim(spark, cellsPath).select("gram", "c12")

  /** Score `d` (doc_id, text) against the maintained LM — the q174 output
    * shape, equal to the batch operator trained on everything absorbed. */
  def scoreAll(spark: SparkSession, cellsPath: String, d: DataFrame): DataFrame =
    TextOps.knScoreWith(d, readCorpus(spark, cellsPath))
}
