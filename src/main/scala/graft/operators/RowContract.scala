package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Typed row contracts: declarative per-field NORMALIZE-then-VALIDATE,
  * the distributed twin of the reference's Pydantic field-validator
  * chain (reference: src/silver/contracts.py:47-297 — nonempty
  * requireds, upper-or-none coercion, bounded ranges, cross-field
  * at-least-one) — applied to EVERY row as column algebra, not to a
  * 10k sample in a Python loop.
  *
  * A contract is an ordered field list; each field owns an optional
  * normalization (applied in place, like Pydantic `mode="before"`
  * validators mutate the value) and ordered checks over the
  * NORMALIZED value, each with a reason code. Cross-field rules run
  * after all field checks (like Pydantic `mode="after"` model
  * validators). Reason assignment is first-match-wins in declaration
  * order, producing the same quarantine surface as
  * [[QualityGate]] — whose split/report/threshold machinery this
  * delegates to. One scan, one CASE chain, fully codegen'd.
  */
object RowContract {

  /** One field's contract: `normalize` rewrites the column in place;
    * each check is (reason_code, valid-predicate over the normalized
    * column). A null predicate result counts as FAILED (unknown is
    * not valid) — matching Pydantic, where a validator either returns
    * a value or raises.
    */
  /** No-op normalization sentinel (reference-compared to skip the
    * withColumn rewrite entirely).
    */
  val NoNorm: Column => Column = c => c

  final case class Field(
      name: String,
      normalize: Column => Column = NoNorm,
      checks: Seq[(String, Column => Column)] = Seq.empty)

  /** Cross-field rule over the normalized frame. */
  final case class Cross(reason: String, valid: Column)

  // ── Pydantic-helper twins (contracts.py:28-43) ────────────────────

  /** Upper-or-none that must also land in an allowed code set (the
    * Literal["LABORAL",...] pattern): null passes unless `required`.
    */
  def upperEnum(name: String, allowed: Seq[String], badReason: String,
                missingReason: Option[String] = None): Field =
    Field(name, c => nullif(upper(trim(c)), lit("")),
      missingReason.map(r => r -> ((c: Column) => c.isNotNull)).toSeq :+
        (badReason -> ((c: Column) => c.isNull || c.isin(allowed: _*))))

  /** `Field(ge=…, le=…)` on an Optional: null passes. */
  def optionalRange(name: String, lo: Double, hi: Double, reason: String): Field =
    Field(name, NoNorm,
      Seq(reason -> (c => c.isNull || c.between(lo, hi))))

  /** Required non-null (non-string fields). */
  def required(name: String, reason: String): Field =
    Field(name, NoNorm, Seq(reason -> (c => c.isNotNull)))

  /** `model_validator(mode="after")` at-least-one-of (EMPTY_LEG). */
  def atLeastOneOf(reason: String, cols: Seq[String]): Cross =
    Cross(reason, cols.map(col(_).isNotNull).reduce(_ || _))

  // ── Engine ────────────────────────────────────────────────────────

  /** Normalized frame + `reason_code` (null = passes the contract). */
  def annotate(df: DataFrame, fields: Seq[Field],
               cross: Seq[Cross] = Seq.empty): DataFrame =
    QualityGate.withReason(normalizedOf(df, fields), rules(fields, cross))

  def valid(df: DataFrame, fields: Seq[Field], cross: Seq[Cross] = Seq.empty): DataFrame =
    QualityGate.valid(normalizedOf(df, fields), rules(fields, cross))

  def quarantine(df: DataFrame, fields: Seq[Field], cross: Seq[Cross] = Seq.empty): DataFrame =
    QualityGate.quarantine(normalizedOf(df, fields), rules(fields, cross))

  def report(df: DataFrame, fields: Seq[Field], cross: Seq[Cross] = Seq.empty): DataFrame =
    QualityGate.report(normalizedOf(df, fields), rules(fields, cross))

  /** Warn/fail gate over the contract's reason distribution — the
    * PYDANTIC_WARN_RATE / PYDANTIC_FAIL_RATE thresholds
    * (contracts.py:20-21), exact over all rows instead of a sample.
    */
  def thresholdGate(df: DataFrame, fields: Seq[Field], cross: Seq[Cross],
                    warnRate: Double, failRate: Double): DataFrame =
    QualityGate.thresholdGate(normalizedOf(df, fields), rules(fields, cross),
      warnRate, failRate)

  /** Sampled contract PRE-FLIGHT: [[thresholdGate]] over a bounded
    * deterministic sample of `n` rows — the cheap first gate you run
    * before committing a full 100-TB validation pass (reference:
    * transforms.py:214-279, `validation_sample_size` rows through
    * Pydantic with the same warn/fail surface).
    *
    * The sample is the `n` rows with the LOWEST md5 over `keyCols` —
    * a pure function of the data (unlike `USING SAMPLE` / `limit`,
    * which depend on layout and task order), so the gate's verdict is
    * reproducible across engines, re-runs and repartitions. Spark
    * executes the rank-take as TakeOrdered (per-partition top-n then
    * a merge of n-row heads — no global sort, no full shuffle).
    *
    * `keyCols` must be a unique key: md5 ties among duplicate keys
    * would make the n-th row engine-dependent.
    */
  def sampleGate(df: DataFrame, fields: Seq[Field], cross: Seq[Cross],
                 keyCols: Seq[String], n: Int,
                 warnRate: Double, failRate: Double): DataFrame = {
    require(n > 0, s"sample size must be positive: $n")
    val rank = md5(concat_ws("\u0001",
      keyCols.map(c => coalesce(col(c).cast("string"), lit("<NULL>"))): _*))
    val sample = df.withColumn("__graft_rank", rank)
      .orderBy(col("__graft_rank")).limit(n).drop("__graft_rank")
    thresholdGate(sample, fields, cross, warnRate, failRate)
  }

  private def normalizedOf(df: DataFrame, fields: Seq[Field]): DataFrame =
    fields.foldLeft(df) { (d, f) =>
      if (f.normalize eq NoNorm) d
      else d.withColumn(f.name, f.normalize(col(f.name)))
    }

  private def rules(fields: Seq[Field], cross: Seq[Cross]): Seq[QualityGate.Rule] =
    fields.flatMap(f => f.checks.map { case (reason, valid) =>
      // fail when the predicate is false OR null (unknown != valid)
      QualityGate.Rule(reason, !coalesce(valid(col(f.name)), lit(false)))
    }) ++ cross.map(c => QualityGate.Rule(c.reason, !coalesce(c.valid, lit(false))))
}
