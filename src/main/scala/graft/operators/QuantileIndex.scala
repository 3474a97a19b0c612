package graft.operators

import graft.Tables
import graft.functions.TextFns.toks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q119 — the INCREMENTAL grouped-quantile index: exact per-language
  * token-count quantiles (q116's output, bit for bit) maintained
  * nightly WITHOUT ever rescanning — or re-tokenizing — the corpus.
  * The seventh member of the incremental-index family, and the one
  * that closes the loop between the delta taxonomy and the rank
  * engine: what lives at rest is exactly the collapsed (g, v, nv)
  * histogram [[Analytics.rankCutsHist]] consumes, so the read path
  * feeds the ledger straight into the two-tier engine with no
  * raw-value pass at all.
  *
  * Why a histogram is the RIGHT at-rest state for quantiles: exact
  * order statistics are not decomposable (no per-night mergeable
  * scalar exists, unlike q109's max-algebra HLL registers), but the
  * tie-collapsed histogram IS additive — a night's counts simply add —
  * and it is bounded by the value support (|langs| · |distinct token
  * counts|), not the corpus. Tokenization, the expensive projection,
  * runs exactly once per document ever: on the night it arrives.
  *
  * At-rest tables:
  *   - `tq_hist` (batch_key, g, source, v, nv): per-night collapsed
  *     counts, append-only, row-level guarded by a
  *     (batch_key, g, source, v) anti-join; reads aggregate Σnv — the
  *     q115 additive ledger discipline, compacted on cadence.
  *   - `tq_docs` (doc_id): the counted-document manifest, APPEND-ONLY —
  *     each night appends exactly its novel doc-ids (the append is the
  *     doc_id anti-join's complement, so it is row-level idempotent
  *     under replay — the q74/q113 guard), compacted on cadence.
  *   - `tq_marker` (batch_key, n_docs): the committed-night set, one
  *     row per night, REWRITTEN via tmp-swap each night — the night's
  *     atomic commit point (the q115 night-marker discipline; tiny,
  *     O(nights) rows, so the swap is free). The no-op gate requires
  *     BOTH columns to match: the gate's blast radius is total (a
  *     false positive silently drops a whole night, where the
  *     row-level (batch_key, g, source, v) anti-joins only risk
  *     overlap), so the 64-bit key alone — negligible but nonzero
  *     collision odds at nightly cadence — is backed by the offered
  *     cardinality, which a colliding different night would also have
  *     to reproduce.
  *
  * Crash contract (replay routing keys off the MARKER, never the
  * manifest, so partial manifest appends cannot shift anything):
  *
  *   1. `batch_key` is a pure function of the OFFERED (deduped) batch —
  *      deliberately NOT of the novel set — so a replay of an
  *      uncommitted night re-derives the identical key no matter how
  *      far the crashed attempt got. The marker probe is the no-op
  *      gate: key present ⇒ the night committed in full.
  *   2. Crash mid-append of `tq_hist` → the manifest is untouched, so
  *      the replay derives the identical novel set and delta rows; the
  *      (batch_key, g, source, v) anti-join appends exactly the
  *      missing ones.
  *   3. Crash after the hist append, MID-manifest-append → the
  *      replay's novel set shrinks to the not-yet-appended docs, but
  *      its delta rows' (batch_key, g, source, v) combos are a subset
  *      of the fully-appended night's (same key by contract 1), so
  *      every one anti-joins away — no double count — and the manifest
  *      append lands exactly the missing doc-ids (novel IS the
  *      anti-join's complement).
  *   4. Crash after both appends, before the marker swap → the
  *      replay's novel set is empty, both appends are no-ops, and the
  *      replay completes the marker swap — which is atomic
  *      (`Fs.replaceWith`), so it cannot half-commit.
  *   5. Crash after the swap → the marker probe no-ops the replay.
  *
  * Nightly I/O bill (the r14 verdict's named scale cost, now killed):
  * the manifest was REWRITTEN in full every night — O(|corpus|
  * doc-ids/night, ~80 GB at 10^10 docs. It is now an O(novel) append;
  * the only O(corpus) term left is the compaction rewrite, amortized
  * to O(corpus / CompactMaxFiles) per night by the cadence, and the
  * marker swap is O(nights) rows. The histogram guard keys stay valid
  * because `batch_key` never depended on manifest state (contract 1).
  *
  * In-batch redelivery (a doc offered twice in ONE night) is dropped
  * at the entry (`dropDuplicates("doc_id")`, the InBatchRedelivery
  * discipline). Serial nights, as everywhere in the family: a crashed
  * night is replayed before the next night is offered.
  *
  * RETRACTION ([[retract]]) makes doc deletion/revision in-scope:
  * because the cube is ADDITIVE, a retracted doc's contribution is
  * cancelled by appending its (g, source, v) rows with NEGATIVE nv
  * under a retraction batch_key — the ledger read already sums, so no
  * histogram row is ever rewritten — and every reader filters Σnv ≠ 0
  * so a fully cancelled cell reads exactly like a rebuild that never
  * saw the doc. A doc REVISED in a later night is retract + re-offer,
  * and the cycle composes indefinitely: both directions stamp their
  * keys with an EPOCH derived from the opposite sign's committed key
  * set ([[advanceEpoch]] / [[retractEpoch]]), so a re-offer of a
  * retracted night and a re-retraction of a re-offered set each get
  * fresh keys — never silently no-oped by the first cycle's marker or
  * row guards — while each direction's own crash replays stay on the
  * identical key (its appends never move the opposite sign's set).
  */
object QuantileIndex {

  /** q116's null-group sentinel, genuinely shared now: the ONE
    * [[Analytics.NullGroup]] constant (NUL, written as the escape), so
    * a reader borrowing q116's mapping reads this ledger's at-rest
    * rows correctly — the r14 split (q116 on NUL, this ledger on a
    * space, a plausible dirty lang value) is closed. Migration rule
    * for a production ledger written under the old sentinel lives on
    * the constant's scaladoc; the in-harness fixture index is
    * memoized per session, so nothing persisted migrates here.
    */
  private val Sentinel = Analytics.NullGroup

  /** The per-document (doc_id, g, source, v) projection — the ONLY
    * place the corpus text is ever tokenized, and it only ever sees a
    * night's novel documents. Both group keys ride: the at-rest
    * histogram stores the FINEST grouping any reader needs
    * ((lang, source, v) — still value-support-bounded) and each reader
    * marginalizes the keys it doesn't group by — the cube-at-rest
    * discipline that lets ONE index serve the q119 quantile reader
    * (by lang) and the q120 winsorized reader (by source).
    */
  private[graft] def valsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      coalesce(col("lang"), lit(Sentinel)).as("g"),
      col("source"),
      graft.functions.TextFns.tokCount(col("text")).cast("long").as("v"))

  /** Deterministic key of the night's OFFERED (deduped) doc set (the
    * Corpus `docSetKey` discipline — order-free xor fold +
    * cardinality), stamped with the advance-side EPOCH
    * ([[advanceEpoch]]). Keyed off the offered batch, NOT the novel
    * set, so the key is invariant under every partial-progress crash
    * state (crash contract 1). Internal guard key only: never compared
    * against the oracle, so it stays native xxhash64 in every hash
    * mode.
    */
  private[graft] def docSetKey(ids: DataFrame, epoch: Long = 0L): DataFrame =
    ids.agg(
      coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)).as("h"),
      count(lit(1)).as("nd"))
      .select(xxhash64(col("h"), col("nd"), lit(epoch)).as("batch_key"),
        col("nd").as("n_docs"))

  /** The ADVANCE-side epoch: xor of the committed RETRACTION keys (the
    * distinct batch_keys of negative-nv ledger rows). Stamping this
    * into the night key makes a re-offer of a doc set identical to a
    * committed-then-retracted night derive a FRESH key — so neither
    * the marker gate nor the (batch_key, g, source, v) row guard can
    * collide with the original night's still-present positive rows,
    * and the re-offer restores (takedown reversal for whole nights).
    * Stable under the advance's own replays by construction: an
    * advance appends only POSITIVE rows, so the negative-key set —
    * and with it every partial-progress replay's derived key — cannot
    * move mid-night (crash contract 1 survives the stamp). Advanced by
    * any intervening retraction, exactly when a fresh key is wanted.
    * Dual of [[retractEpoch]] — the `Corpus.retractFromLive` epoch-xor
    * discipline, specialized to the cube's sign algebra.
    */
  private def advanceEpoch(wh: graft.pipelines.Warehouse): Long =
    if (!wh.exists("tq_hist")) 0L
    else wh.read("tq_hist").filter(col("nv") < 0)
      .select(col("batch_key")).distinct()
      .agg(coalesce(bit_xor(xxhash64(col("batch_key"))), lit(0L)))
      .head().getLong(0)

  /** The RETRACT-side epoch: xor of the committed POSITIVE (night)
    * keys. A retraction appends only NEGATIVE rows, so this is stable
    * under the retraction's own replays — every crash-window replay
    * derives the identical key and the marker gate / row guards work
    * exactly as before — while any intervening advance (in particular
    * the re-offer of the very docs being retracted again) flips the
    * epoch and gives the second retraction a fresh key: the
    * retract → re-offer → retract cycle cancels instead of silently
    * no-oping on the first retraction's marker.
    */
  private def retractEpoch(wh: graft.pipelines.Warehouse): Long =
    wh.read("tq_hist").filter(col("nv") > 0)
      .select(col("batch_key")).distinct()
      .agg(coalesce(bit_xor(xxhash64(col("batch_key"))), lit(0L)))
      .head().getLong(0)

  /** Read `tq_marker` tolerating the pre-`n_docs` at-rest layout: a
    * warehouse written before the two-column marker gained the
    * cardinality backstop would otherwise throw on the gate's where()
    * and on unionByName — a replay of an already-committed night must
    * DEGRADE (legacy rows never match the two-column gate, the replay
    * re-derives an empty novel set, no-ops the appends and re-commits
    * a two-column marker row), never crash.
    */
  private def readMarker(wh: graft.pipelines.Warehouse): DataFrame = {
    val m = wh.read("tq_marker")
    if (m.columns.contains("n_docs")) m
    else m.withColumn("n_docs", lit(-1L))
  }

  /** Nightly advance: fold the batch's novel documents into the
    * at-rest histogram. Replay-convergent per the crash contract above;
    * a fully committed night is a cheap no-op (one marker probe over an
    * O(nights)-row table).
    */
  def advance(spark: SparkSession, root: String, rawBatch: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    val batch = rawBatch.dropDuplicates("doc_id")
    // contract 1: the key is a pure function of the offered batch AND
    // the at-rest retraction-key set (a 1-row checkpoint-class scalar,
    // like every sibling's marker read) — stable across this night's
    // own crash replays, fresh after any intervening retraction
    val keyRow = docSetKey(batch.select(col("doc_id")), advanceEpoch(wh)).head()
    val keyVal = keyRow.getLong(0)
    val nOffered = keyRow.getLong(1)
    // no-op gate matches BOTH marker columns — see the tq_marker
    // blast-radius note in the object scaladoc
    if (wh.exists("tq_marker") &&
        !readMarker(wh).where(col("batch_key") === keyVal &&
          col("n_docs") === nOffered).isEmpty)
      return // the night committed in full; replay is a no-op
    val cold = !wh.exists("tq_docs")
    val novel =
      if (cold) batch
      else batch.join(wh.read("tq_docs"), Seq("doc_id"), "left_anti")
    // 3 narrow columns, consumed by the emptiness probe, the delta agg
    // and the manifest append — cache before fan-out
    val vals = graft.TransientCache.register(valsOf(novel).cache())
    val nothingNovel = vals.isEmpty // crash window 4: appends already landed
    val delta = vals.groupBy(col("g"), col("source"), col("v"))
      .agg(count(lit(1)).as("nv"))
      .select(lit(keyVal).as("batch_key"),
        col("g"), col("source"), col("v"), col("nv"))
    val guarded =
      if (!wh.exists("tq_hist")) delta
      else delta.join(
        wh.read("tq_hist")
          .select(col("batch_key"), col("g"), col("source"), col("v")),
        Seq("batch_key", "g", "source", "v"), "left_anti")
    if (!wh.exists("tq_hist")) wh.write("tq_hist", guarded)
    else if (!nothingNovel) wh.append("tq_hist", guarded)
    wh.compactIfFragmented("tq_hist")
    // manifest: APPEND-ONLY, O(novel) per night — `novel` is already
    // the doc_id anti-join against the at-rest manifest, so the append
    // is row-level idempotent under replay (crash window 3)
    val man = vals.select(col("doc_id"))
    if (cold) wh.write("tq_docs", man)
    else if (!nothingNovel) wh.append("tq_docs", man)
    wh.compactIfFragmented("tq_docs")
    // marker tmp-swap LAST — the atomic commit point of the night
    import spark.implicits._
    val mine = Seq((keyVal, nOffered)).toDF("batch_key", "n_docs")
    wh.write("tq_marker",
      if (!wh.exists("tq_marker")) mine
      else readMarker(wh).unionByName(mine))
  }

  /** RETRACTION — take a committed doc OUT of the at-rest cube without
    * rewriting a single histogram row: the additive family's answer to
    * takedowns/opt-outs/contaminated-source recalls. `rawDocs` is the
    * retraction payload (documents-shaped — the cube stores no per-doc
    * values, so the docs' text is re-tokenized ONCE here, exactly the
    * one-tokenize-per-event bill the advance pays), restricted to the
    * manifest so retracting a never-ingested or already-retracted doc
    * is a no-op. Three steps, in this order:
    *
    *   1. append the restricted docs' (g, source, v) counts NEGATED,
    *      under a retraction batch_key (salted, so it can never collide
    *      with a night's key, AND stamped with [[retractEpoch]] — the
    *      xor of committed positive keys — so a retraction of the same
    *      id set AFTER a re-offer derives a fresh key and cancels
    *      again), row-level guarded by the same
    *      (batch_key, g, source, v) anti-join as the advance;
    *   2. tmp-swap `tq_docs` minus the ids — the doc may be RE-OFFERED
    *      later and must then count as novel again (takedown reversal);
    *   3. append the retraction marker (batch_key, n_docs of the
    *      OFFERED id set) — the no-op gate for a fully-committed replay.
    *
    * Crash windows (serial with nights, like every sibling op): mid-1 →
    * manifest intact, replay re-derives byte-identical negative rows,
    * the guard appends only the missing ones; after 1, around 2 → the
    * swap is atomic (bak-heal), and a replay's manifest restriction
    * shrinks to the not-yet-swapped ids (∅ once the swap landed), whose
    * rows all guard away — the retraction key is a pure function of the
    * OFFERED id set and the at-rest POSITIVE-key set (which a
    * retraction never touches: it appends only negative rows), so
    * every window replays under the identical key; after 3 → the
    * marker gate no-ops. Readers need no retraction awareness at all:
    * they sum the ledger and drop Σnv = 0 cells.
    *
    * Retract ≡ rebuild-without-those-docs is spec'd at every table
    * boundary (RetractionSpec) and rides the DRIVER gate as q126: a
    * post-retraction read whose oracle is the full scan over the
    * surviving docs.
    */
  def retract(spark: SparkSession, root: String, rawDocs: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    if (!wh.exists("tq_docs")) return // nothing ever ingested
    val ids = rawDocs.select(col("doc_id")).dropDuplicates("doc_id")
    val keyRow = ids.agg(
        coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)).as("h"),
        count(lit(1)).as("nd"))
      // the salt keeps retraction keys disjoint from night keys even
      // for an identical doc set (retract-the-whole-night is legal);
      // the epoch ([[retractEpoch]]) keeps a LATER retraction of the
      // same id set — after the docs were re-offered — off the first
      // retraction's marker and row guards, so the cycle cancels
      .select(xxhash64(col("h"), col("nd"), lit("retract"),
          lit(retractEpoch(wh))).as("batch_key"),
        col("nd").as("n_docs")).head()
    val keyVal = keyRow.getLong(0)
    val nOffered = keyRow.getLong(1)
    if (wh.exists("tq_marker") &&
        !readMarker(wh).where(col("batch_key") === keyVal &&
          col("n_docs") === nOffered).isEmpty)
      return // this retraction committed in full; replay is a no-op
    // manifest restriction: only committed docs cancel (and it is what
    // makes the post-swap replay windows derive an empty delta)
    val present = rawDocs.dropDuplicates("doc_id")
      .join(wh.read("tq_docs"), Seq("doc_id"), "left_semi")
    val vals = graft.TransientCache.register(valsOf(present).cache())
    val nothingPresent = vals.isEmpty
    val delta = vals.groupBy(col("g"), col("source"), col("v"))
      .agg((-count(lit(1))).as("nv"))
      .select(lit(keyVal).as("batch_key"),
        col("g"), col("source"), col("v"), col("nv"))
    if (!nothingPresent) {
      wh.append("tq_hist",
        delta.join(
          wh.read("tq_hist")
            .select(col("batch_key"), col("g"), col("source"), col("v")),
          Seq("batch_key", "g", "source", "v"), "left_anti"))
      wh.compactIfFragmented("tq_hist")
      wh.write("tq_docs",
        wh.read("tq_docs").join(broadcast(ids), Seq("doc_id"), "left_anti"))
    }
    import spark.implicits._
    val mine = Seq((keyVal, nOffered)).toDF("batch_key", "n_docs")
    wh.write("tq_marker",
      if (!wh.exists("tq_marker")) mine
      else readMarker(wh).unionByName(mine))
  }

  // ---------- fixture index (memoized per context+dir, the q113/q115
  // time-split discipline transposed to the doc tier's % 10 split)

  private val memo = new graft.ContextMemo[String, String](identity)

  /** The fixture's at-rest index: corpus = `doc_id % 10 < 8` (q61/q74's
    * seen-corpus convention), seeded through the SAME advance path — a
    * cold warehouse's first night IS the seed.
    */
  private[graft] def indexAtRest(spark: SparkSession, dir: String): String =
    memo.getAt(spark, dir, "graft_tqidx_") { fresh =>
      advance(spark, fresh,
        Tables.documents(spark, dir).filter(col("doc_id") % 10 < 8))
      fresh
    }

  /** Test seam — inject an index root; a built root it shadows is
    * deleted.
    */
  private[graft] def installIndex(spark: SparkSession, dir: String,
                                  root: String): Unit =
    memo.install(spark, dir, root)

  /** Drop this context's memoized indexes; owned roots deleted. */
  def clearIndex(spark: SparkSession): Unit = memo.clear(spark)

  /** q119 — q116's exact grouped quantiles over corpus + tonight's
    * batch WITHOUT rescanning the corpus: the corpus side is the
    * at-rest histogram ledger (Σnv by (g, v) — value-support-bounded
    * rows, no text, no tokenizer), the batch side is one night's
    * uncommitted delta merged at query time (the q115 shape), and the
    * merged histogram enters [[Analytics.rankCutsHist]] directly.
    * Oracle = q116's full-scan SQL VERBATIM — the hash compare proves
    * incremental ≡ rebuild bit-for-bit (the q109/q113/q115 discipline,
    * now for exact order statistics).
    */
  def deltaQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesOfRoot(spark, indexAtRest(spark, dir), dir)

  /** The q119 read body against an explicit ledger root — shared with
    * the q126 post-retraction read (same plan, different at-rest
    * state). The Σnv ≠ 0 filter is the retraction lane's entire
    * footprint on the read path: a fully cancelled (g, v) cell must
    * read exactly like a rebuild that never saw the doc (on a
    * never-retracted ledger every Σnv is positive and the filter is a
    * no-op).
    */
  private def quantilesOfRoot(spark: SparkSession, root: String,
                              dir: String): DataFrame = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    val batch = Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8)
    val night = valsOf(batch)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("nv"))
    val merged = graft.TransientCache.register(
      wh.read("tq_hist").select(col("g"), col("v"), col("nv"))
        .unionByName(night)
        .groupBy(col("g"), col("v")).agg(sum(col("nv")).as("nv"))
        .filter(col("nv") =!= 0)
        .cache())
    merged.count()
    val cuts = Analytics.rankCutsHist(merged, "g",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99).map { case (nm, q) =>
        nm -> ((n: org.apache.spark.sql.Column) =>
          floor((n - 1) * lit(q)).cast("long") + lit(1L))
      })
    cuts.select(
        when(col("g") === lit(Sentinel), lit(null).cast("string"))
          .otherwise(col("g")).as("lang"),
        col("p50"), col("p90"), col("p99"), col("n").as("n_docs"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Oracle: q116's (= q41's) full-scan formulation, verbatim — the
    * scan the incremental path must never need.
    */
  val deltaQuantilesSql: String = Analytics.groupedQuantilesSql

  /** q120 — q118's winsorized per-source statistics over corpus +
    * tonight's batch off the SAME at-rest index as q119: the ledger
    * stores the finest (lang, source, v) grouping, and this reader
    * marginalizes LANG where q119 marginalizes SOURCE — two readers,
    * one nightly advance, one tokenizer pass per document ever (the
    * cube-at-rest payoff; a lang-only histogram would force a second
    * index for the source profile). Read = Σnv by (source, v) over
    * ledger ∪ night, then [[Analytics.winsorizedOfHist]] verbatim —
    * so the output is q118's bit for bit, and the oracle is q118's
    * full-scan SQL VERBATIM (the incremental ≡ rebuild hash proof).
    */
  def deltaWinsorized(spark: SparkSession, dir: String): DataFrame = {
    val root = indexAtRest(spark, dir)
    val wh = new graft.pipelines.Warehouse(spark, root)
    val batch = Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8)
    val night = valsOf(batch)
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("nv"))
    val merged = graft.TransientCache.register(
      wh.read("tq_hist").select(col("source"), col("v"), col("nv"))
        .unionByName(night)
        .groupBy(col("source"), col("v")).agg(sum(col("nv")).as("nv"))
        .filter(col("nv") =!= 0) // retraction lane: drop cancelled cells
        .withColumnRenamed("source", "g")
        .cache())
    merged.count()
    Analytics.winsorizedOfHist(merged)
  }

  /** Oracle: q118's full-scan formulation, verbatim. */
  val deltaWinsorizedSql: String = Analytics.winsorizedStatsSql

  /** q125 — the cube's THIRD reader, at the ledger's FINEST grain:
    * per-(lang, source) length-distribution drift
    * ([[Analytics.lengthDriftOfHist]]) over corpus + tonight's batch
    * with zero new tokenizer passes. Where q119 marginalizes source
    * and q120 marginalizes lang, this reader marginalizes NOTHING —
    * the (g, source, v) grain the advance stores is consumed whole,
    * proving the cube-at-rest grouping pays a third time (a lang-only
    * or source-only histogram could not serve it). Read = Σnv over
    * ledger ∪ night at full grain, then the drift body; oracle = the
    * full-scan formulation, so the hash compare proves incremental ≡
    * rebuild for the finest-grain read path too.
    */
  def deltaDrift(spark: SparkSession, dir: String): DataFrame = {
    val root = indexAtRest(spark, dir)
    val wh = new graft.pipelines.Warehouse(spark, root)
    val batch = Tables.documents(spark, dir).filter(col("doc_id") % 10 >= 8)
    val night = valsOf(batch)
      .groupBy(col("g"), col("source"), col("v")).agg(count(lit(1)).as("nv"))
    val merged = graft.TransientCache.register(
      wh.read("tq_hist").select(col("g"), col("source"), col("v"), col("nv"))
        .unionByName(night)
        .groupBy(col("g"), col("source"), col("v")).agg(sum(col("nv")).as("nv"))
        .filter(col("nv") =!= 0) // retraction lane: drop cancelled cells
        .cache())
    merged.count()
    Analytics.lengthDriftOfHist(merged)
  }

  /** Oracle: the full-scan drift formulation. */
  val deltaDriftSql: String = Analytics.lengthDriftSql

  // ---------- q126: the retraction lane on the driver gate

  /** The retraction fixture's predicate: which CORPUS docs are
    * retracted (1/9 of the seen corpus; disjoint from the `%10 >= 8`
    * batch by construction, so the read is corpus-minus-retracted plus
    * the night's batch). Shared verbatim by the Spark fixture and the
    * oracle SQL's survivor filter.
    */
  private[graft] val RetractPredSql = "doc_id % 10 < 8 AND doc_id % 9 = 4"

  private val retractMemo = new graft.ContextMemo[String, String](identity)

  /** The q126 fixture: the q119 at-rest index seeded through the SAME
    * advance path, then [[retract]]ed of the [[RetractPredSql]] docs —
    * memoized per context+dir like every index fixture (its own root:
    * the shared q119/q120/q125 index must never see the retraction).
    */
  private[graft] def retractedIndexAtRest(spark: SparkSession, dir: String): String =
    retractMemo.getAt(spark, dir, "graft_rqidx_") { fresh =>
      val docs = Tables.documents(spark, dir)
      advance(spark, fresh, docs.filter(col("doc_id") % 10 < 8))
      retract(spark, fresh, docs.filter(expr(RetractPredSql)))
      fresh
    }

  /** Drop this context's memoized retraction fixtures; owned roots
    * deleted ([[clearIndex]] semantics).
    */
  def clearRetractedIndex(spark: SparkSession): Unit = retractMemo.clear(spark)

  /** q126 — the q109-discipline INVERTED: q119's read over an at-rest
    * ledger that has RETRACTED documents (negative-delta cancellation,
    * [[retract]]), hash-checked against an oracle that full-scans only
    * the SURVIVING docs. The driver compare is the retraction proof:
    * it passes iff cancel + Σnv≠0-read ≡ a rebuild that never saw the
    * retracted docs, bit for bit — the same way q119 proves
    * incremental ≡ rebuild for the advance direction.
    */
  def retractQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesOfRoot(spark, retractedIndexAtRest(spark, dir), dir)

  /** Oracle: q41's full-scan formulation restricted to the surviving
    * docs — the scan the retraction path must never need.
    */
  val retractQuantilesSql: String = {
    import graft.functions.TextFns.toksSql
    s"""WITH counts AS (
      |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents
      |  WHERE NOT ($RetractPredSql)),
      |ranked AS (
      |  SELECT lang, n_tokens,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM counts)
      |SELECT lang,
      |  max(CASE WHEN rn = CAST(floor((n-1) * 0.5e0) AS BIGINT) + 1 THEN n_tokens END) AS p50,
      |  max(CASE WHEN rn = CAST(floor((n-1) * 0.9e0) AS BIGINT) + 1 THEN n_tokens END) AS p90,
      |  max(CASE WHEN rn = CAST(floor((n-1) * 0.99e0) AS BIGINT) + 1 THEN n_tokens END) AS p99,
      |  CAST(max(n) AS BIGINT) AS n_docs
      |FROM ranked GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin
  }
}
