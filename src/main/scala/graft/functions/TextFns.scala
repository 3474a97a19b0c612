package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-pipeline primitives shared by the training-data
  * operators (TextOps / Dedup / Similarity). None of this exists in the
  * reference (it has no text processing); these are the large-scale
  * training-data-pipeline extensions mandated by BASELINE.json's
  * north-star list.
  *
  * Portability contract: every helper here has an exact DuckDB-SQL twin
  * (embedded in the operators' oracle SQL), so results hash-match across
  * engines. The two non-obvious shared primitives:
  *
  *   - [[hash60]]: a deterministic 60-bit string hash with two tiers
  *     (see [[hashMode]]): xxhash64 for production (native, engine-
  *     specific) and md5 for oracle parity — md5 hex is identical in
  *     Spark and DuckDB, and 15 hex chars (60 bits) fit a signed 64-bit
  *     int in both (`conv(_,16,10)` here, `CAST('0x'||… AS BIGINT)`
  *     there).
  *   - double arithmetic is written with an explicit left-to-right fold
  *     order in BOTH engines, so sums are bit-identical and no fuzzy
  *     compare is needed.
  *
  * All helpers are pure Catalyst expressions (codegen'd, no UDFs), so they
  * stay inside WholeStageCodegen and distribute trivially.
  */
object TextFns {

  /** Lowercased whitespace tokens, empty strings dropped (leading/double
    * whitespace would otherwise yield "" in both engines). r18: delegates
    * to the native fused walk ([[org.apache.spark.sql.graft.WsTokens]] —
    * same array bit for bit, differential-spec'd in VectorExprsSpec);
    * [[toksHof]] keeps the declarative form as the parity witness.
    */
  def toks(text: Column): Column =
    org.apache.spark.sql.graft.TextExprs.wsTokens(text)

  /** The pre-r18 declarative tokenizer — the oracle-mirroring HOF form,
    * kept as the differential-test witness for [[toks]].
    */
  def toksHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Hash-tier mode. The shingle/token hash is the hottest expression of
    * the whole corpus tier at 100 TB (one eval per shingle OCCURRENCE), so
    * it is pluggable:
    *
    *   - `"xxhash64"` (production default): native codegen'd XXH64 —
    *     no digest allocation, no hex/string round-trip; ~10× cheaper
    *     than the md5 tier per eval.
    *   - `"md5"` (oracle parity): bit-portable to DuckDB, pinned by
    *     [[graft.Verify]] so driver-side hashes match the oracle SQL
    *     (which is always written in md5 form).
    *
    * Everything STRUCTURAL about the operators — dedup groups, shingle
    * equality, LSH banding, bucket joins, split assignment — is
    * hash-agnostic (equality of hashes ≡ equality of inputs modulo
    * collision, for either tier); only reported hash VALUES and the
    * probabilistic recall of LSH candidate generation depend on the mode.
    * Differential-tested in HashModeSpec.
    */
  def hashMode: String = sys.props.getOrElse("graft.hashMode", "xxhash64")

  /** 60-bit non-negative hash of a string in the current [[hashMode]]. */
  def hash60(s: Column): Column =
    if (hashMode == "md5") hash60Md5(s) else hash60Xx(s)

  /** md5 tier: first 15 hex chars of md5 — bit-identical in Spark and
    * DuckDB. Twin: `CAST('0x' || substr(md5(s),1,15) AS BIGINT)`.
    */
  def hash60Md5(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** xxhash64 tier: native codegen'd XXH64 folded to the same
    * non-negative 60-bit range as the md5 tier (unsigned shift keeps the
    * sign bit out, so `% P` reductions downstream stay non-negative).
    */
  def hash60Xx(s: Column): Column =
    shiftrightunsigned(xxhash64(s), 4)

  /** Word 3-gram shingles over a token array (distinct). Docs with <3
    * tokens degrade to one whole-doc shingle. DuckDB twin uses
    * `range(1, len-1)` (exclusive end) + 1-based list indexing — same
    * 1-based convention as `element_at`.
    *
    * PERF: do NOT explode() this column — GenerateExec re-evaluates the
    * generator child once per OUTPUT row, and `array_distinct` makes each
    * interpreted re-eval ~50µs (measured 15× slowdown at sf0.1). For
    * exploded pipelines use [[shingles3All]] + a relational distinct after
    * hashing instead.
    */
  def shingles3(t: Column): Column =
    array_distinct(shingles3All(t))

  /** Non-distinct word bigrams; empty for single-token docs. Same
    * generator-safety note as [[shingles3All]].
    */
  def bigramsAll(t: Column): Column =
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))

  val bigramsAllSql: String =
    """CASE WHEN len(t) >= 2
      |  THEN list_transform(range(1, len(t)),
      |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1])
      |  ELSE [] END""".stripMargin

  /** Non-distinct 3-gram shingles — the cheap generator-safe variant. */
  def shingles3All(t: Column): Column = {
    val tri = transform(sequence(lit(1), size(t) - 2), i =>
      concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))
    when(size(t) >= 3, tri).otherwise(array(array_join(t, " ")))
  }

  /** The DuckDB-SQL twins as reusable fragments (kept adjacent to the Spark
    * definitions so drift is caught in review).
    */
  val toksSql = """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""
  def hash60Sql(s: String): String = s"CAST('0x' || substr(md5($s),1,15) AS BIGINT)"
  val shingles3AllSql: String =
    """CASE WHEN len(t) >= 3
      |  THEN list_transform(range(1, len(t)-1),
      |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1] || ' ' || t[CAST(i AS INT)+2])
      |  ELSE [array_to_string(t, ' ')] END""".stripMargin
  val shingles3Sql: String = s"list_distinct($shingles3AllSql)"

  /** Native whitespace token count — `size(toks(text))` fused into one
    * byte walk (identical values, including the ANSI size()'s NULL for
    * NULL input; parity contract in [[org.apache.spark.sql.graft.TextNative]]).
    */
  def tokCount(text: Column): Column =
    org.apache.spark.sql.graft.TextExprs.wsTokenCount(text)

  /** Native fused tokenize → 3-gram → hash60 (→ winnow window-min, when
    * `w > 0`) in the current [[hashMode]] — the
    * `transform(shingles3All(toks(text)), hash60)` chain as one codegen'd
    * walk (parity contract in [[org.apache.spark.sql.graft.TextNative]]).
    */
  def shingleFps(text: Column, w: Int): Column =
    org.apache.spark.sql.graft.TextExprs.shingleFps(text, w, hashMode == "md5")

  /** English stopword probe set used by lang-ID / quality scoring. Tiny on
    * purpose: the point is the operator shape (set-membership ratio over
    * tokens), not linguistic accuracy.
    */
  val enStops: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")
  val esStops: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un")

  private def inSet(set: Seq[String]): Column => Column =
    x => x.isin(set.map(lit): _*)

  /** Count of tokens that are members of `set` (frequency-weighted). */
  def stopHits(t: Column, set: Seq[String]): Column =
    size(filter(t, inSet(set)))

  def stopHitsSql(set: Seq[String]): String =
    s"len(list_filter(t, x -> x IN (${set.map(s => s"'$s'").mkString(",")})))"
}
