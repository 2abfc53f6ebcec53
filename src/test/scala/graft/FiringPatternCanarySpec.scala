package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.DriftGate

/** Firing-pattern canary — the SchemaCanarySpec precedent applied to
  * the five streaming oracles that PIN the sf0.01 drift firing
  * pattern (st20_stream_drift_refit, st21_stream_quarantine,
  * st23_stream_promote, st24_stream_lineage,
  * st25_stream_curated_corpus): on the driver's sf0.01
  * documents table, doc_id-mod-4 slicing fires the st18 token-length
  * drift test exactly at batch 2 under [[DriftGate.ThresholdPpm]]
  * (ratios ~112000 / 176000 / 48000 ppm vs the 150000 threshold). A
  * testdata regeneration that shifts the token-length mix could move
  * that firing batch and turn all five queries hash-red with the
  * ENGINE still correct — this spec fails FIRST and BY NAME instead.
  *
  * RE-PIN procedure (one step): the pattern below IS the derivation —
  * rerun [[firedSet]] on the regenerated sf0.01 documents, then update
  * the five oracles' pinned predicates in StreamingQueries to the new
  * fired set F: the clean-pool perceptron CTE prefixes (a-chain
  * `doc_id % 4 = 0`, b-chain `doc_id % 4 IN (<clean batches ≤ firing
  * batch>)`), st21/st24's route CASE (`doc_id % 4 = <firing batch>`),
  * st24's serving CASE boundaries, and st25's nd-CTE restriction
  * (`WHERE doc_id % 4 <> <firing batch>` in corpusBuildOracle). The streaming specs'
  * batchReference invariance is the SEMANTIC pin (engine == one-shot
  * fold on any corpus); this canary is the TESTDATA pin.
  */
class FiringPatternCanarySpec extends SparkSpec {

  /** The SF the driver's correctness gate runs at — the one the
    * pinned oracles were derived from. The canary only means anything
    * against the driver's actual testdata, so on a host without it
    * the tests SKIP with a clear message instead of failing as a
    * missing path. */
  private val VerifySf = "/root/testdata/sf0.01"

  private def requireTestdata(): Unit =
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(VerifySf)),
      s"$VerifySf absent — the firing-pattern canary is only " +
        "meaningful against the driver's testdata")

  /** The fired-batch set the engine derives — delegated to the
    * library's own derivation
    * ([[graft.streaming.DriftGate.firedBatches]]:
    * StreamDrift's one-shot batch reference on the st18 axis + the
    * exact BigInt cross-multiplied threshold test, the same
    * arithmetic DriftGate.decisionFor applies per micro-batch).
    * One copy of the formula: a canary that drifted from the engine's
    * actual derivation would pin the wrong pattern. */
  private def firedSet(docs: DataFrame, nSlices: Int = 4): Set[Long] =
    DriftGate.firedBatches(docs, nSlices)

  test("canary: sf0.01 doc_id-mod-4 drift fires exactly at batch 2 — " +
      "st20/st21/st23/st24/st25 oracles pin this pattern") {
    requireTestdata()
    val fired = firedSet(sources.Tables.documents(spark, VerifySf))
    assert(fired == Set(2L),
      s"sf0.01 firing pattern is ${fired.toSeq.sorted.mkString("{", ",", "}")}, " +
        "not {2} — the testdata token-length mix shifted under a " +
        "regeneration. The st20/st21/st23/st24 oracles hard-code the " +
        "batch-2 pattern and will go hash-red with the engine still " +
        "correct. RE-PIN (one step): update their pinned predicates in " +
        "StreamingQueries to this fired set — see the class doc.")
  }

  test("rehearsal: a shifted token-length mix moves the firing batch " +
      "and is caught here by name, not as five hash-reds") {
    requireTestdata()
    // the regen this canary exists for: batch 1's documents suddenly
    // carry a different length profile (a truncating/padding scraper).
    // Padding every batch-1 doc ~quadruples its token count, so the
    // log2 length histogram jumps a bucket at batch 1 — the drift test
    // must fire there, and the canary assertion above would fail by
    // name on such a corpus.
    val docs = sources.Tables.documents(spark, VerifySf)
    val pad = (" pad" * 600).substring(1)
    val shifted = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(4L)) === 1L,
        concat(coalesce(col("text"), lit("")), lit(" " + pad)))
        .otherwise(col("text")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    val fired = firedSet(shifted)
    assert(fired.contains(1L),
      s"rehearsed length-mix shift did not fire at batch 1 (fired=$fired)" +
        " — the canary would miss this regen class")
    assert(fired != Set(2L),
      "rehearsed shift left the pinned pattern unchanged — rehearsal " +
        "corpus too weak to exercise the canary")
  }
}
