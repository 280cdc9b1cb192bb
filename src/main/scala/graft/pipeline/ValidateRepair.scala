package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.JobConfig
import graft.llm.LlmClient

/** Validate-then-REPAIR enrich loop — the yield-recovery operator a
  * production pipeline runs on top of [[SchemaValidate]]'s QA gate
  * (VERDICT r13 item 4): records whose LLM output violates the schema
  * are re-prompted ONCE with the violation reason injected into the
  * retry template, then re-validated. The gate stops being a pure
  * filter (q214's stance: route to dead-letter) and becomes a
  * recovery pass: most transient failures (truncated JSON, prose
  * where an integer belongs) repair on the second ask, while
  * systematic ones (the model insisting on an out-of-enum value)
  * land in the final dead-letter with attempts = 2.
  *
  * Loop shape, by construction:
  *   - BOUNDED: exactly one retry — attempts ∈ {1, 2}, never a
  *     re-ask loop that a stubborn model could spin forever;
  *   - FRUGAL: only first-pass FAILURES are re-asked, and EnrichJob
  *     calls each record once per pass however many forks read it,
  *     spec-proven with a counting client;
  *   - TOTAL: every input record gets one report row — (attempts,
  *     valid_first, valid_final, reason_first, reason_final) — so the
  *     per-reason repair-rate dashboard is one fold of this frame.
  *     Totality includes transport failures: a record whose LLM CALL
  *     dead-letters (first pass or retry) reports with
  *     reason = [[CallFailedReason]] instead of silently vanishing —
  *     first-pass call failures report attempts = 1 and are NOT
  *     re-asked (EnrichJob's own retry/backoff already gave up);
  *     retry-pass call failures report attempts = 2, valid_final = 0.
  *
  * Spark-first: both passes are the same EnrichJob mapPartitions
  * stage; validation is SchemaValidate's codegen'd Column chain; the
  * only movement between passes is the dead slice, which re-enters
  * the enrich stage under the retry template. At 100 TB the retry
  * pass touches |failures| records, not the corpus — the loop's cost
  * is proportional to the defect rate, which is the whole point.
  */
object ValidateRepair {

  /** Returns the per-record repair report:
    * (id, attempts, valid_first, valid_final, reason_first,
    * reason_final) — flags as BIGINT 0/1, reasons '' when clean.
    *
    * `retryTemplate` is an ERB template with `texts[:why]` bound to
    * the first pass's violation reason (plus everything the first
    * template saw under `contentLabel`).
    */
  /** reason recorded when the LLM CALL itself dead-letters (transport
    * exhausted EnrichJob's own retry/backoff) — distinct from every
    * schema-violation reason so the dashboard can separate "model
    * answered wrong" from "model never answered"
    */
  val CallFailedReason = "call"

  def run(
      records: DataFrame,
      cfg: JobConfig,
      retryTemplate: String,
      client: LlmClient,
      constraints: Seq[(String, SchemaValidate.Constraint)],
      contentLabel: String = "content",
      opts: EnrichOptions = EnrichOptions()): DataFrame = {
    val r1 = EnrichJob.run(records, cfg, client, opts)
    val first = r1.good
      .select(col("id"),
        element_at(col("texts"), contentLabel).as("content"),
        element_at(col("texts"), cfg.outputLabel).as("j"))
    // validate once: three consumers read the verdicts (the retry
    // records, the repaired join and the clean rows)
    val checked1 = SchemaValidate.verdicts(first, "j", constraints)
      .select(col("id"), col("content"),
        col("valid").cast("boolean").as("valid1"),
        col("reason").as("reason_first"))
      .localCheckpoint()

    val dead1 = checked1.filter(!col("valid1"))
    val retryRecords = dead1.select(col("id"),
      map(lit(contentLabel), col("content"),
        lit("why"), col("reason_first")).as("texts"),
      array().cast("array<string>").as("images"))
    val cfg2 = cfg.copy(id = cfg.id + "-retry", erbTemplate = retryTemplate)
    val second = EnrichJob.run(retryRecords, cfg2, client, opts).good
      .select(col("id"), element_at(col("texts"), cfg.outputLabel).as("j"))
    val checked2 = SchemaValidate.verdicts(second, "j", constraints)
      .select(col("id"), col("valid").cast("boolean").as("valid2"),
        col("reason").as("reason_final"))

    // LEFT join: a retry whose CALL dead-letters (checked2 has no row)
    // must still report — valid_final = 0, reason_final = 'call' —
    // or the TOTAL invariant silently breaks exactly in the failure
    // path this operator exists to account for
    val repaired = dead1.select(col("id"), col("reason_first"))
      .join(checked2, Seq("id"), "left")
      .select(col("id"), lit(2L).as("attempts"), lit(0L).as("valid_first"),
        coalesce(col("valid2").cast("long"), lit(0L)).as("valid_final"),
        col("reason_first"),
        coalesce(col("reason_final"), lit(CallFailedReason))
          .as("reason_final"))
    val cleanFirst = checked1.filter(col("valid1"))
      .select(col("id"), lit(1L).as("attempts"), lit(1L).as("valid_first"),
        lit(1L).as("valid_final"), col("reason_first"),
        lit("").as("reason_final"))
    // first-pass CALL failures never reached validation: they report
    // attempts = 1 with the call-failed reason on both columns (the
    // transport already exhausted EnrichJob's own retry/backoff — the
    // bounded loop does not re-ask what the transport gave up on)
    val callDead1 = r1.deadLetter
      .select(col("id"), lit(1L).as("attempts"), lit(0L).as("valid_first"),
        lit(0L).as("valid_final"),
        lit(CallFailedReason).as("reason_first"),
        lit(CallFailedReason).as("reason_final"))
    cleanFirst.unionByName(repaired).unionByName(callDead1)
  }
}
