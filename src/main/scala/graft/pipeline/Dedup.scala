package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every method is shuffle-bounded by construction —
  * candidate generation always goes through a bucket key (hash group, LSH
  * band, signature chunk) so no all-pairs comparison ever happens; the
  * verify step runs only inside buckets. Exact dedup is a single
  * hash-aggregate.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Keep-first exact dedup: one row per distinct key, the row with the
    * smallest `orderCol`. A hash aggregate with min_by keeps the plan a
    * single shuffle on the key AND partial-aggregates map-side — a
    * pathological dup group (10⁹ copies of one boilerplate doc) collapses
    * to one row per input partition before the shuffle, where a
    * row_number window would funnel every copy to a single task. */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(all, col(orderCol)).as("__row"))
      .select(df.columns.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Exact-dup groups: key → number of copies and kept id (for auditing). */
  def exactGroups(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("copies"), min(idCol).as("kept_id"))

  // ------------------------------------------------------ hot-bucket cap

  /** Drop LSH buckets larger than `maxBucketSize` before a bucket
    * self-join: a degenerate bucket of B identical-boilerplate rows is a
    * B² join bomb. Rows of a dropped bucket still pair through their other
    * bands/tables; truly pathological exact-dup groups should be
    * exact-deduped first. Costs one extra shuffle on the same bucket key
    * the join shuffles on, with map-side combine on the count. */
  private[graft] def capBuckets(df: DataFrame, bucketCols: Seq[String],
      maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) df
    else {
      // Aggregate sizes + broadcast-join-back, DELIBERATELY not a
      // window count (r18 measured-then-rejected): a window count would
      // ride the one bucket-cols exchange the downstream self-join
      // needs and save the census's second evaluation of `df` (a full
      // extra sign pass for the banding doors — 2.05 -> 1.49 s on the
      // minhash door at sf0.1, ProbeMinhashReuse), BUT it moves every
      // row of an OVER-CAP group (signature payload included) to one
      // task's window buffer before dropping it. The cap exists for
      // exactly the degenerate-boilerplate bucket (B copies of one
      // document, B² candidate pairs); under the census form those B
      // rows are counted map-side and NEVER shuffled, while the window
      // form would funnel B·|sig| bytes through a single straggler.
      // Bounded worst case wins over the common-case 2x sign CPU; the
      // boilerplate defense stays "exact-dedup before indexing".
      val sizes = df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__bsz"))
      df.join(sizes.filter(col("__bsz") <= maxBucketSize), bucketCols).drop("__bsz")
    }

  /** [[capBuckets]] for STORE WRITES, as count-then-write: one census
    * counts the bucket groups over `maxBucketSize`. When none is (the
    * normal case) the frame comes back as it is, minus the rows with a
    * null bucket key, which [[capBuckets]]' inner join drops too — no
    * join, and the census ran once. Otherwise the count is surfaced as
    * a WARNING (a corpus index silently thinner than its corpus reads
    * as complete, and a pair whose only shared bucket was dropped is
    * missed for good) and [[capBuckets]] drops the over-cap groups,
    * running the census a second time under its join. The census is
    * NOT cached: AQE coalesces the reduce stage of an un-cached
    * aggregate but keeps every output partition of a cached one, so
    * each reader of a small batch's cached census would run at
    * `spark.sql.shuffle.partitions` tasks (PERF.md, "Store census").
    * Eager: the census runs at call time. */
  private def capBucketsWarn(df: DataFrame, bucketCols: Seq[String],
      maxBucketSize: Int, ctx: String): DataFrame =
    if (maxBucketSize <= 0) df
    else {
      val dropped = df.groupBy(bucketCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > maxBucketSize).count()
      if (dropped == 0) df.filter(bucketCols.map(col(_).isNotNull).reduce(_ && _))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$ctx: $dropped bucket group(s) exceed maxBucketSize " +
            s"$maxBucketSize and were DROPPED from the index — their " +
            "rows still probe through their other buckets, but a pair " +
            "whose only shared bucket was dropped will be missed; " +
            "collapse boilerplate with exact dedup before indexing")
        capBuckets(df, bucketCols, maxBucketSize)
      }
    }

  /** Cap by the JOINED population: drop bucket groups whose combined
    * batch+store row count exceeds `maxBucketSize`. This is the
    * SELF-JOIN door's union semantics ([[capBuckets]] over the union of
    * the two frames sees the same total), so a store door stays
    * pair-for-pair equivalent to the self-join at the cap boundary —
    * per-side caps would admit a bucket with cap rows on EACH side
    * (cap² candidate pairs, the join bomb the cap exists to stop). The
    * store side's count aggregation rides its bucketing (no exchange);
    * write-time-dropped store buckets are simply absent, which matches
    * the union door (store-side count alone already exceeded the cap).
    *
    * Dropped groups are WARNED (one count over the snapped joint-census
    * frame — one small row per jointly-present bucket): each written
    * batch is capped at write time, but a bucket can grow past the cap
    * ACROSS appends, and silently skipping it at join time would read
    * as "no duplicates there"; the fix is the store's compaction door
    * ([[compactMinhashStore]] and siblings). */
  private def capBucketsJoint(batch: DataFrame, store: DataFrame,
      bucketCols: Seq[String], maxBucketSize: Int,
      ctx: String): (DataFrame, DataFrame) =
    if (maxBucketSize <= 0) (batch, store)
    else {
      val bs = batch.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__bn"))
      val cs = store.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__cn"))
      // inner join: a bucket absent from either side produces no pairs
      // anyway, so only jointly-present buckets need the budget check.
      // Materialize the joint census ONCE (small — one row per
      // jointly-present bucket): left lazy, each of its consumers (the
      // dropped-count warn and both semi joins) re-runs the batch census
      // subplan — the 10× scale bench read the store door at 2.3× the
      // self-join door before this eager cut (PERF.md r16)
      val joint = snapFrame(bs.join(cs, bucketCols)
        .select(bucketCols.map(col) :+ (col("__bn") + col("__cn")).as("__tot"): _*))
      val dropped = joint.filter(col("__tot") > maxBucketSize).count()
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$ctx: $dropped bucket group(s) exceed maxBucketSize " +
            s"$maxBucketSize jointly across batch+store and were SKIPPED " +
            "for this join — pairs meeting only there are missed. A " +
            "store bucket that grew past the cap across appends wants " +
            "the compaction door (compactMinhashStore / " +
            "compactSimhashStore / compactEmbeddingStore / " +
            "compactNgramStore), or an exact-dedup pass over the corpus")
      val ok = joint.filter(col("__tot") <= maxBucketSize)
        .select(bucketCols.map(col): _*)
      (batch.join(ok, bucketCols, "left_semi"),
        store.join(ok, bucketCols, "left_semi"))
    }

  /** [[capBuckets]] that COUNTS dropped groups and WARNS — the
    * in-frame sibling of [[capBucketsWarn]] for doors whose narrow
    * bucket domain makes silent saturation REACHABLE (the
    * widened-radius SimHash chunkings: 256 or 16 bucket values per
    * chunk, so any frame past ~cap × domain rows drops essentially
    * every group and returns zero pairs). There drops are the common
    * case, not the exception, so the census is snapped once and the
    * join reuses the tiny censused list instead of re-running the
    * pass. Eager: the bucket census runs at call time. */
  private def capBucketsWarned(df: DataFrame, bucketCols: Seq[String],
      maxBucketSize: Int, ctx: String): DataFrame =
    if (maxBucketSize <= 0) df
    else {
      val sizes = snapFrame(
        df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__bsz")))
      val dropped = sizes.filter(col("__bsz") > maxBucketSize).count()
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$ctx: $dropped bucket group(s) exceed maxBucketSize " +
            s"$maxBucketSize and were DROPPED — pairs meeting only in a " +
            "dropped group are missed (recall is NOT exact past the " +
            "cap). A wide Hamming radius shrinks the bucket domain " +
            "(8-bit chunks: 256 values; 4-bit: 16), so large frames " +
            "saturate every group: raise maxBucketSize, shrink the " +
            "radius, or exact-dedup boilerplate first")
      df.join(sizes.filter(col("__bsz") <= maxBucketSize), bucketCols)
        .drop("__bsz")
    }

  /** Read a store's stamp property: Some when the table resolves and
    * carries it; None on ANALYSIS failures only (missing table/db,
    * unparseable name, temp view). A transient metastore fault
    * PROPAGATES — it must not masquerade as "not a store" and send the
    * caller off to rewrite a perfectly valid index. */
  private def readStoreStamp(spark: org.apache.spark.sql.SparkSession,
      table: String, prop: String): Option[String] =
    try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      spark.sessionState.catalog.getTableMetadata(id).properties.get(prop)
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** The store writers' shared PROLOGUE ([[stampStore]]'s opening
    * bracket): normalize the mode, resolve prior existence, and refuse
    * a non-overwrite write whose parameters don't match the stamp —
    * mixed parameters hash different buckets (or grams of a different
    * n) and silently miss pairs. One copy for all four tiers (review
    * r17 — the fourth paste had already drifted its message). */
  private def checkStoreWrite(spark: org.apache.spark.sql.SparkSession,
      table: String, mode: String, prop: String, payload: String,
      writer: String): (String, Boolean) = {
    val modeNorm = mode.toLowerCase(java.util.Locale.ROOT)
    val tableId = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val existedBefore = spark.sessionState.catalog.tableExists(tableId)
    if (modeNorm != "overwrite" && existedBefore) {
      val prev = spark.sessionState.catalog.getTableMetadata(tableId)
        .properties.get(prop)
      require(prev.contains(payload),
        s"$writer: mode=$mode with params $payload onto a store " +
          s"stamped ${prev.getOrElse("(no stamp)")} — mixed parameters " +
          "(or an old store layout) silently miss pairs; reuse the " +
          "stamped parameters, or rewrite with mode=overwrite")
    }
    (modeNorm, existedBefore)
  }

  /** Stamp a store's parameter property when the write mode actually
    * wrote — the shared finish of both index writers. */
  private def stampStore(spark: org.apache.spark.sql.SparkSession,
      table: String, modeNorm: String, existedBefore: Boolean,
      prop: String, payload: String): Unit = {
    val wrote = modeNorm == "overwrite" || modeNorm == "append" || !existedBefore
    if (wrote)
      spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(table)} " +
        s"SET TBLPROPERTIES ('$prop'='$payload')")
  }

  // ----------------------------------------------------------- shingles

  /** Character k-shingles of the normalized text, distinct, codegen'd
    * (transform over a sequence — no UDF). */
  def shingles(text: Column, k: Int): Column = {
    val norm = TextAnalysis.normalized(text)
    array_distinct(
      when(length(norm) >= k,
        transform(sequence(lit(1), length(norm) - (k - 1)), i => norm.substr(i, lit(k))))
        .otherwise(array(norm)))
  }

  /** Character k-shingles hashed to Int64 (xxhash64), distinct, codegen'd.
    * At 100 TB the string shingle array of a 100 KB document is ~0.5 MB per
    * row; the hashed form is 8 bytes per shingle and loses nothing for
    * signature/Jaccard purposes (collisions are ~2⁻⁶⁴).
    *
    * IMPORTANT: `norm` must be a *materialized column* (an attribute), not
    * an expression — the transform lambda evaluates its body per element,
    * so an inlined `normalized(text)` would run its regex once per shingle
    * (measured: ~20× slowdown). Callers project the normalized text first. */
  private[graft] def shingleHashesNorm(norm: Column, k: Int): Column =
    array_distinct(
      // null text → null shingles → null signature (row drops out of
      // banding): xxhash64(null) silently returns the SEED, which would
      // band every null-text row together as mutual near-dups — and
      // diverge from the native MinHashSig tier, which null-propagates
      when(norm.isNull, lit(null).cast("array<bigint>"))
        .when(length(norm) >= k,
          transform(sequence(lit(1), length(norm) - (k - 1)), i => xxhash64(norm.substr(i, lit(k)))))
        .otherwise(array(xxhash64(norm))))

  /** Convenience single-expression form; prefer projecting
    * `TextAnalysis.normalized` into a column and using the candidates
    * pipeline for anything beyond small data (see [[shingleHashesNorm]]). */
  def shingleHashes(text: Column, k: Int): Column =
    shingleHashesNorm(TextAnalysis.normalized(text), k)

  /** Word n-grams of the normalized text. NOTE: single-expression
    * convenience — the lambda re-tokenizes per element (see
    * [[shingleHashesNorm]]'s warning); at scale use [[nearDupNgram]],
    * which materializes the token array first. */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsOfTokens(TextAnalysis.tokens(TextAnalysis.normalized(text)), n)

  /** [[wordNgrams]] over an ALREADY-MATERIALIZED token array column —
    * callers with large inputs should project the tokens first so the
    * tokenizer runs once per document, not once per gram position. */
  def wordNgramsOfTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Jaccard similarity of two token/shingle arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(lit(0.0))
  }

  // ------------------------------------------------------------ MinHash

  /** splitmix64 finalizer — cheap, high-quality per-seed mixing. */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31
    x
  }

  /** MinHash signature of a shingle set: sig(j) = min over shingles of
    * fmix64(hash(s) ^ seed_j). One pass over the shingles per row. */
  def minhashSignature(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val f = udf((sh: Seq[String]) =>
      if (sh == null) None
      else {
        val sig = Array.fill(numHashes)(Long.MaxValue)
        sh.foreach { s =>
          val base = fmix64(s.hashCode.toLong * 0x9e3779b97f4a7c15L + 1)
          var j = 0
          while (j < numHashes) {
            val h = fmix64(base ^ (j * 0xc2b2ae3d27d4eb4fL))
            if (h < sig(j)) sig(j) = h
            j += 1
          }
        }
        Some(sig.toSeq)
      })
    f
  }

  /** MinHash signature straight from the normalized text as one native
    * codegen'd pass ([[graft.plans.MinHashSig]]): no shingle array, no
    * distinct, no UDF boxing. Values identical to
    * `minhashSignatureHashed(numHashes)(shingleHashes(text, k))`. */
  def minhashSigNative(norm: Column, shingleK: Int, numHashes: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.MinHashSig(
      ColumnBridge.expression(norm), shingleK, numHashes))
  }

  /** MinHash signature over pre-hashed Int64 shingles (the scale path —
    * pairs with [[shingleHashes]] so no string arrays are materialized). */
  def minhashSignatureHashed(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((sh: Seq[Long]) =>
      if (sh == null) None
      else {
        val sig = Array.fill(numHashes)(Long.MaxValue)
        sh.foreach { s =>
          val base = fmix64(s * 0x9e3779b97f4a7c15L + 1)
          var j = 0
          while (j < numHashes) {
            val h = fmix64(base ^ (j * 0xc2b2ae3d27d4eb4fL))
            if (h < sig(j)) sig(j) = h
            j += 1
          }
        }
        Some(sig.toSeq)
      })

  /** Candidate near-dup pairs via MinHash LSH banding: rows whose signature
    * agrees on all rows of at least one band land in the same bucket.
    * Returns (id_a, id_b, jaccard_est) with id_a < id_b.
    *
    * numHashes = bands * rowsPerBand; the default 64/8 (8 rows per band)
    * puts the collision-curve threshold at jaccard ≈ (1/b)^(1/r) ≈ 0.77 —
    * the near-dup dedup operating point. Use more, narrower bands (e.g.
    * bands=16) to catch lower-similarity pairs at higher candidate cost.
    */
  /** (id, sig, band, bucket) LSH banding of a frame — the ONE banding
    * implementation the self-join candidate generator AND the corpus
    * store ([[writeMinhashStore]] / [[minhashCandidatesAgainstStore]])
    * ride, so the store's bucket hashing can never drift from the
    * per-call form. normalize → shingle → sign run as separate
    * projections: each stage's result is an attribute, so lambdas never
    * re-evaluate upstream regexes. Signatures are CARRIED THROUGH the
    * banding instead of being persisted and joined back: the shingling
    * pipeline runs exactly once, with no executor cache held for the
    * session's lifetime — only wider (numHashes-long) rows. */
  /** (id, sig) signatures of a frame — one normalize→shingle→sign pass.
    * Null-TEXT rows are filtered at the SOURCE column, where the
    * predicate pushes to the parquet scan: null text is the only way a
    * signature comes back null (normalize and MinHashSig both
    * null-propagate; "" signs the {""} singleton), so this is exactly
    * the null-signature guard [[bandExplode]] needs — and filtering on
    * the raw column instead of `sig IS NOT NULL` matters a lot: a
    * filter on the DERIVED signature pushes below the projection,
    * substituting the whole normalize+sign expression into the
    * predicate, and every consumer of the banded subplan re-evaluates
    * it per row (ProbeMinhashAB r17: the r16 sig-filter shape read
    * 1.83 s vs 1.15 s for this one — the whole pipe_minhash
    * "regression" was that filter). */
  private def minhashSigned(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleK: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.normalized(col(textCol)).as("__norm"))
      .select(col("id"), minhashSigNative(col("__norm"), shingleK, numHashes).as("sig"))

  /** (id, sig, band, bucket) band explosion of an (id, sig) frame — the
    * ONE bucket-hashing implementation every minhash door rides.
    * INVARIANT: the input carries NO null signatures — Spark's
    * `hash(null)` is the seed constant, so a null signature would land
    * in one shared bucket per band and pair with every other null-text
    * row at a null estimate (phantom candidates, review r16). The
    * producers guarantee it at the CHEAP tier: the signers filter null
    * TEXT at the source column ([[minhashSigned]] / [[ngramSets]] —
    * scan-pushed), and the store writer filters `sig IS NOT NULL` on
    * its read-back path where sig is a stored attribute. A filter here
    * on the derived sig column would re-evaluate the whole sign
    * expression per consumer (ProbeMinhashAB r17, −37%). */
  private def bandExplode(withSig: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    withSig.select(
      col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), hash(slice(col("sig"), b * r + 1, lit(r))).as("bucket"))))
        .as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
  }

  private[graft] def minhashBanded(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleK: Int): DataFrame =
    bandExplode(minhashSigned(df, idCol, textCol, numHashes, shingleK),
      numHashes, bands)

  /** Eager EPHEMERAL snapshot for a frame read by several consumers
    * within one call (the batch signature pass, the joint-cap bucket
    * list). Always executor-local, deliberately NOT the reliable
    * checkpoint dir: these frames are cheap to recompute and exist only
    * to stop a shared subplan re-running per consumer, while reliable
    * checkpoint FILES are never deleted unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set — a
    * per-batch ingest loop would leak its full signed batch to the dir
    * on every call. Local blocks are GC-cleaned with the frame; an
    * executor loss fails the job loudly and a retry recomputes. */
  private def snapFrame(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  /** Fraction of signature positions agreeing — the MinHash jaccard
    * estimate. ONE implementation for the self-join and store doors
    * (MinhashStoreSpec pins them bit-for-bit; a drifted copy would
    * break that silently). */
  private[graft] def jaccardEstExpr(sigA: Column, sigB: Column,
      numHashes: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** Self-join on `keys` emitting (id_a, id_b[, <payload>_a/_b]) pairs
    * with id_a < id_b, built from two ALIASES of the SAME plan with the
    * per-side projections applied AFTER the join (r18): the old form
    * projected `id as id_a` / `id as id_b` below each side's exchange,
    * so the two exchange subtrees were not canonically equal,
    * ReuseExchange could not dedup them, and the whole upstream
    * banding/signature pass (shingle + sign + explode — the dominant
    * cost) ran once PER SIDE: 2x the sign CPU and a second full input
    * scan per candidates call at corpus scale. Aliased sides share one
    * canonical subtree, so the shuffle is computed once and read twice
    * (ProbeMinhashReuse: ReusedExchange in the final plan, results
    * bit-identical). */
  private def selfJoinPairs(df: DataFrame, keys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val cond = keys.map(kc => col(s"__sj_a.$kc") === col(s"__sj_b.$kc"))
      .reduce(_ && _) && (col("__sj_a.id") < col("__sj_b.id"))
    val proj = col("__sj_a.id").as("id_a") +: col("__sj_b.id").as("id_b") +:
      payload.flatMap(c => Seq(col(s"__sj_a.$c").as(c + "_a"),
        col(s"__sj_b.$c").as(c + "_b")))
    df.alias("__sj_a").join(df.alias("__sj_b"), cond).select(proj: _*)
  }

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 8, shingleK: Int = 5,
      maxBucketSize: Int = 100000): DataFrame = {
    // Snapshot the SIGNED frame (id, sig) before banding (r19, VERDICT
    // r18 #7): capBuckets' census is a second consumer of the banded
    // subplan, and with the sign expressions inlined it re-ran the whole
    // normalize→shingle→sign pass — the door's dominant cost — once for
    // the census on top of the self-join side's single (ReuseExchange'd)
    // run: 2× sign CPU and a second full corpus scan per call at scale.
    // The snap materializes numHashes ints + id per doc (far smaller
    // than the text it derives from); the census and both join sides
    // re-derive bands from it with cheap slice hashes. Over-cap rows
    // still never shuffle — the census stays a map-side-combined
    // aggregate, so capBuckets' bounded-worst-case argument holds
    // unchanged. Cap off → single consumer → no snap (stay lazy).
    val signed = minhashSigned(df, idCol, textCol, numHashes, shingleK)
    val src = if (maxBucketSize > 0) snapFrame(signed) else signed
    val banded = bandExplode(src, numHashes, bands)
    val capped = capBuckets(banded, Seq("band", "bucket"), maxBucketSize)
    // self-join within (band, bucket); a<b kills mirror+self pairs.
    // Dedup the id pairs BEFORE scoring: a pair colliding in many bands
    // would otherwise pay the signature comparison once per band.
    selfJoinPairs(capped, Seq("band", "bucket"), Seq("sig"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardEstExpr(col("sig_a"), col("sig_b"), numHashes).as("jaccard_est"))
  }

  /** Full MinHash near-dup pipeline: LSH candidates, then exact shingle
    * Jaccard verify ≥ threshold. */
  /** Pick the coarsest banding whose collision threshold (1/b)^(r⁻¹) sits
    * safely below the requested jaccard threshold — fewer bands = fewer
    * candidate pairs, and the exact verify step removes false positives. */
  private[graft] def autoBands(numHashes: Int, threshold: Double): Int = {
    val options = Seq(4, 8, 16, 32).filter(numHashes % _ == 0)
    options.find { b =>
      val r = numHashes / b
      math.pow(1.0 / b, 1.0 / r) <= threshold * 0.8
    }.getOrElse(options.last)
  }

  def nearDupMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5): DataFrame = {
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    val cands = minhashCandidates(df, idCol, textCol, numHashes, b, shingleK)
    // snapped (r19): the exact-verify joins read `sh` once per pair SIDE
    // (id_a and id_b), and the rename-below-exchange join shape defeats
    // ReuseExchange (the selfJoinPairs lesson) — without the snap the
    // normalize+shingle pass ran twice more per call
    val sh = snapFrame(df
      .select(col(idCol).as("id"), TextAnalysis.normalized(col(textCol)).as("__norm"))
      .select(col("id"), shingleHashesNorm(col("__norm"), shingleK).as("sh")))
    cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard_est", "jaccard")
  }

  // ------------------------------------------------ minhash corpus store

  /** Table property stamped by [[writeMinhashStore]]:
    * `v1:<numHashes>:<bands>:<shingleK>`. Batch joins read it back and
    * band the batch with the SAME parameters — mixed parameters hash
    * different buckets and silently miss every pair, so a missing or
    * mismatched stamp errors loudly. */
  val MinhashStoreProp = "graft.dedup.minhashParams"

  /** Suffix of the per-doc signature table living next to a
    * [[writeMinhashStore]] / [[writeNgramStore]] bands table. */
  val MinhashSigTableSuffix = "__sigs"

  /** Shared writer of the two-table SIGNATURE stores (the MinHash
    * shingle tier and the word-n-gram tier — same layout, different
    * `sign` pass): slim (id, band, bucket) rows bucketed by the join
    * key + (id, sig) rows bucketed by id, param stamp unset across the
    * non-atomic two-table window (a crash leaves a store the doors
    * refuse loudly), per-batch hot buckets capped with a WARNING.
    * Write flow: the sigs table first (on append from a snapshot of the
    * one sign pass, which also feeds the band rows; on overwrite the
    * band rows read the written sigs back), then one bucket census of
    * the band rows that only COUNTS the over-cap groups
    * ([[capBucketsWarn]]), then the band table — written as banded when
    * the count is 0, through the cap's join otherwise.
    * `sign` must produce (id, sig) and null-propagate on null text
    * ([[bandExplode]] then drops the null signatures — the hash(null)
    * phantom-bucket lesson, review r16). */
  private def writeSignatureStore(df: DataFrame, table: String,
      sign: DataFrame => DataFrame, prop: String, payload: String,
      numHashes: Int, bands: Int, buckets: Int, mode: String,
      maxBucketSize: Int, writer: String): Unit = {
    val spark = df.sparkSession
    val (modeNorm, existedBefore) =
      checkStoreWrite(spark, table, mode, prop, payload, writer)
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // UNSET the stamp for the duration of the two-table write: the two
    // saves are not atomic, and a crash between them must leave a store
    // that ERRORS loudly at the candidates door (no stamp → "rewrite")
    // rather than one that silently joins old band rows to new
    // signatures. Re-set only after BOTH writes land. ONLY on modes
    // that actually write — ignore/error modes write nothing, and
    // unsetting there would permanently brick a valid index with a
    // no-op call (review r16).
    if (existedBefore && (modeNorm == "overwrite" || modeNorm == "append"))
      try spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(table)} " +
        s"UNSET TBLPROPERTIES IF EXISTS ('$prop')")
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    val sigTable = table + MinhashSigTableSuffix
    val withSig = sign(df)
    // on APPEND the band rows must cover only the NEW batch, so the one
    // signature pass is snapshotted and feeds both writes; on overwrite
    // the just-written sigs table IS exactly the corpus — band rows
    // derive from reading it back (520-byte rows), no snapshot held
    val sigSource =
      if (modeNorm == "append") Some(snapFrame(withSig)) else None
    sigSource.getOrElse(withSig)
      .repartition(buckets, col("id"))
      .write.mode(mode).bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(sigTable)
    // the read-back path filters null sigs as a stored-ATTRIBUTE
    // predicate (parquet-pushed, free): current signers never write
    // them, but a pre-r17 store's sigs table may carry null-text rows
    val banded = bandExplode(
      sigSource.getOrElse(
        spark.table(sigTable).filter(col("sig").isNotNull)),
      numHashes, bands)
      .select(col("id"), col("band"), col("bucket"))
    capBucketsWarn(banded, Seq("band", "bucket"), maxBucketSize,
      s"$writer($table)")
      .repartition(buckets, col("band"), col("bucket"))
      .write.mode(mode)
      .bucketBy(buckets, "band", "bucket").sortBy("band", "bucket")
      .format("parquet")
      .saveAsTable(table)
    stampStore(spark, table, modeNorm, existedBefore, prop, payload)
  }

  /** Drop BOTH tables of a two-table signature store ([[dropMinhashStore]]
    * / [[dropNgramStore]] delegate here). */
  private def dropSignatureStore(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    graft.join.SpatialJoin.dropBucketedTable(spark, table)
    graft.join.SpatialJoin.dropBucketedTable(spark, table + MinhashSigTableSuffix)
  }

  /** The shared novel/ingest filter of the signature-store tiers
    * ([[minhashNovelAgainstStore]] / [[ngramNovelAgainstStore]] — same
    * collision-point warning, same corpus-then-within-batch flow; a
    * drifted copy would silently fix one door and not the other):
    * `candidates` is the tier's store-candidates frame, `dedupWithin`
    * its exact-verify within-batch dedup. */
  private def novelAgainstSignatureStore(batch: DataFrame, idCol: String,
      threshold: Double, numHashes: Int, bands: Int, ctx: String,
      candidates: DataFrame, dedupWithinBatch: Boolean,
      dedupWithin: DataFrame => DataFrame): DataFrame = {
    val collisionPoint = math.pow(1.0 / bands, 1.0 * bands / numHashes)
    if (threshold < collisionPoint * 0.8)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$ctx: threshold $threshold sits " +
          f"well below the stamped banding's collision point " +
          f"($collisionPoint%.2f at $numHashes hashes / $bands bands) — " +
          "most pairs at that similarity never share a bucket, so " +
          "near-dups will be declared novel; rewrite the store with " +
          "more, narrower bands (autoBands) for this operating point")
    val hits = candidates
      .filter(col("jaccard_est") >= threshold)
      .select(col("batch_id")).distinct()
    val vsCorpus = batch.join(hits, batch(idCol) === hits("batch_id"),
      "left_anti")
    if (!dedupWithinBatch) vsCorpus else dedupWithin(vsCorpus)
  }

  /** Shared candidate pass of the two-table signature stores: the batch
    * is signed ONCE (snapshotted — the band explosion, the joint-cap
    * census, and the estimate join all read it), slim band rows
    * equi-join on (band, bucket) with no corpus-side shuffle, pairs
    * dedup across bands, and only THEN are signatures fetched — once
    * per pair, the corpus side from its bucketed-by-id table. */
  private def signatureStoreCandidates(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String, sign: DataFrame => DataFrame,
      numHashes: Int, bands: Int, maxBucketSize: Int,
      writer: String, ctx: String): DataFrame = {
    val store = spark.table(table)
    require(Seq("id", "band", "bucket").forall(store.columns.contains),
      s"$table does not have $writer's slim (id, band, bucket) layout")
    val sigs = spark.table(table + MinhashSigTableSuffix)
    require(Seq("id", "sig").forall(sigs.columns.contains),
      s"$table$MinhashSigTableSuffix does not have the (id, sig) layout")
    val bSig = snapFrame(sign(batch))
    // JOINT capping (batch + store counts per bucket): per-side caps
    // would admit cap×cap pair bombs AND diverge from the self-join
    // door's union semantics at the boundary
    val (b0, c0) = capBucketsJoint(
      bandExplode(bSig, numHashes, bands).select(col("id"), col("band"), col("bucket")),
      store, Seq("band", "bucket"), maxBucketSize, ctx)
    val pairs = b0.select(col("band"), col("bucket"), col("id").as("batch_id"))
      .join(c0.select(col("band"), col("bucket"), col("id").as("corpus_id")),
        Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    // dropDuplicates on id: insurance against a double-appended batch
    // duplicating sig rows (each dup would re-emit every pair touching
    // the doc); the sigs table is bucketed by id, so the aggregate
    // needs no exchange. The isNotNull filter (parquet-pushed attribute
    // predicate) must come FIRST: a pre-r17 store can carry a null-text
    // sig row next to a real one for the same id, and an arbitrary
    // per-id pick that keeps the null would null the estimate and
    // silently drop every pair touching the doc
    pairs
      .join(sigs.filter(col("sig").isNotNull)
        .select(col("id").as("corpus_id"), col("sig").as("sig_c"))
        .dropDuplicates("corpus_id"), Seq("corpus_id"))
      .join(bSig.select(col("id").as("batch_id"), col("sig").as("sig_b")),
        Seq("batch_id"))
      .select(col("batch_id"), col("corpus_id"),
        jaccardEstExpr(col("sig_b"), col("sig_c"), numHashes).as("jaccard_est"))
  }

  /** Persist a corpus's MinHash LSH index — the incremental-ingest
    * answer at 100 TB: corpus signatures are computed ONCE here (the
    * expensive part — normalize + shingle + sign every document; worse,
    * RE-computing them means re-reading the corpus text), and every
    * later batch dedup pays only its own batch's signatures plus
    * bucketed joins in which the CORPUS SIDE NEVER SHUFFLES.
    *
    * TWO tables (the [[graft.join.SpatialJoin.writeSpatialBucketed]]
    * discipline applied to dedup):
    *  - `<table>`: SLIM band rows (id, band, bucket), bucketed/sorted by
    *    (band, bucket) — the candidate equi-join touches 24-byte rows.
    *    Carrying the full signature here (the first cut did) makes the
    *    index ~4 KB/doc at the 64/8 default — larger than typical
    *    document text, and the 10× scale bench read the store door at
    *    ~3× the self-join door before the split (PERF.md r16).
    *  - `<table>__sigs`: (id, sig), bucketed by id — the estimate join
    *    fetches signatures once per DEDUPED PAIR, corpus side co-located.
    *
    * `mode = "append"` ingests an accepted batch into the index (the
    * param stamp must match — checked before any write). The two saves
    * are not atomic, so the stamp is UNSET for the duration and re-set
    * only after both land: a crash mid-write leaves a stamp-less store
    * that the candidates door refuses loudly (rewrite with
    * mode=overwrite) instead of one silently joining old band rows to
    * new signatures. Oversized buckets are capped per written batch
    * with a WARNING; bucket growth ACROSS appended batches is guarded
    * at join time ([[capBucketsJoint]] skips the grown bucket with a
    * warning) and repaired by [[compactMinhashStore]] — a corpus whose
    * boilerplate grows a bucket without bound also wants an exact-dedup
    * pass, same as the self-join door. Drop with [[dropMinhashStore]]
    * (both tables). */
  def writeMinhashStore(df: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 64, bands: Int = 8, shingleK: Int = 5,
      buckets: Int = 64, mode: String = "overwrite",
      maxBucketSize: Int = 100000): Unit =
    // v2 = the slim two-table layout; a v1 (fat single-table) stamp from
    // the earlier cut must FAIL the param check rather than let a
    // half-migrated store validate
    writeSignatureStore(df, table,
      minhashSigned(_, idCol, textCol, numHashes, shingleK),
      MinhashStoreProp, s"v2:$numHashes:$bands:$shingleK",
      numHashes, bands, buckets, mode, maxBucketSize, "writeMinhashStore")

  /** Drop BOTH tables of a [[writeMinhashStore]] index (band rows and
    * per-doc signatures) and their warehouse locations. */
  def dropMinhashStore(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = dropSignatureStore(spark, table)

  /** The stamped (numHashes, bands, shingleK) of a [[writeMinhashStore]]
    * table; errors loudly when absent or unreadable. */
  private def minhashStoreParams(spark: org.apache.spark.sql.SparkSession,
      table: String): (Int, Int, Int) = {
    val stamp = readStoreStamp(spark, table, MinhashStoreProp)
    stamp.map(_.split(':')) match {
      case Some(Array("v2", nh, b, k)) =>
        try (nh.toInt, b.toInt, k.toInt)
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"minhash store $table: unreadable $MinhashStoreProp stamp " +
              s"'${stamp.get}' — rewrite with writeMinhashStore")
        }
      case _ => throw new IllegalArgumentException(
        s"$table is not a current writeMinhashStore table (no readable " +
          s"v2 $MinhashStoreProp stamp — missing, mid-write, or an old " +
          "layout) — rewrite it with writeMinhashStore(mode=overwrite)")
    }
  }

  /** Candidate near-dup pairs of a NEW batch against a
    * [[writeMinhashStore]] corpus: the batch is signed ONCE with the
    * store's stamped parameters (the pass is snapshotted — the band
    * explosion, the joint-cap census, and the estimate join all read
    * it), slim band rows equi-join on (band, bucket) with no
    * corpus-side shuffle, pairs dedup across bands, and only THEN are
    * signatures fetched — once per pair, the corpus side from its
    * bucketed-by-id table. Returns (batch_id, corpus_id, jaccard_est).
    * Batch and corpus ids are separate namespaces — a batch row equal
    * to a corpus row IS reported.
    *
    * NB this call runs a small EAGER Spark job (the joint-cap census +
    * skipped-bucket warning — see [[capBucketsJoint]]) before the lazy
    * result frame returns, so don't construct it speculatively; the
    * same applies to every `*CandidatesAgainstStore` /
    * `*NovelAgainstStore` door. */
  def minhashCandidatesAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = 100000): DataFrame = {
    val (numHashes, bands, shingleK) = minhashStoreParams(spark, table)
    signatureStoreCandidates(spark, batch, table,
      minhashSigned(_, idCol, textCol, numHashes, shingleK),
      numHashes, bands, maxBucketSize, "writeMinhashStore",
      s"minhashCandidatesAgainstStore($table)")
  }

  /** Batch rows with NO near-dup at `threshold` — the ingest filter:
    * keep the novel rows, then `writeMinhashStore(novel, table,
    * mode = "append")` folds them into the index so the next batch
    * dedups against them too. Checks BOTH directions a duplicate can
    * arrive from: against the corpus (estimated jaccard from the stored
    * signatures) and, with `dedupWithinBatch` (default), among the
    * surviving batch rows themselves via [[dedupNearMinhash]] (exact
    * shingle jaccard, min-id survivor per cluster) — without it, two
    * identical new documents in one batch would BOTH be declared novel
    * and both appended, planting permanent duplicates in the index.
    *
    * Recall contract: the store's STAMPED banding fixes the collision
    * curve — a pair's band-collision probability at true jaccard j is
    * `1 − (1 − j^r)^b`, which falls off sharply below `(1/b)^(1/r)`
    * (≈ 0.77 at the 64/8 default). A `threshold` well under that point
    * asks for pairs the banding rarely surfaces; the call WARNS rather
    * than silently under-recalling — write the store with more, narrower
    * bands (see [[autoBands]]) when the operating point is lower.
    *
    * The corpus-side estimate is signature-based (numHashes
    * resolution); an exact verify against corpus text requires the
    * corpus text, which the index deliberately does not carry — callers
    * needing exact jaccard join the surviving pairs back to their own
    * corpus table. */
  def minhashNovelAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame = {
    val (numHashes, bands, shingleK) = minhashStoreParams(spark, table)
    novelAgainstSignatureStore(batch, idCol, threshold, numHashes, bands,
      s"minhashNovelAgainstStore($table)",
      minhashCandidatesAgainstStore(spark, batch, table, idCol, textCol,
        maxBucketSize),
      dedupWithinBatch,
      vsCorpus => dedupNearMinhash(vsCorpus, idCol, textCol, threshold,
        numHashes = numHashes, bands = 0, shingleK = shingleK))
  }

  /** Word n-gram hashes (Int64), the token-level analog of
    * [[shingleHashesNorm]]; `toks` must be a materialized column.
    * Null tokens (null text) null-propagate: `concat_ws` over a null
    * array yields "" — without the guard every null-text row would get
    * the identical single-gram {hash("")} set and pair with every other
    * null-text row at exact jaccard 1.0 (the hash(null) phantom-bucket
    * lesson, applied to the n-gram tier). */
  private[graft] def ngramHashesOf(toks: Column, n: Int): Column =
    array_distinct(
      when(toks.isNull, lit(null).cast("array<bigint>"))
        .when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
        .otherwise(array(xxhash64(concat_ws(" ", toks)))))

  /** (id, ng) n-gram hash sets of a frame — one normalize→tokenize pass
    * (tokens materialized first, so the tokenizer runs once per
    * document, not per gram position). Null text filtered at the source
    * column, same rationale as [[minhashSigned]] (scan-pushed; a
    * derived-column null filter re-evaluates the pipeline per
    * consumer). */
  private def ngramSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.normalized(col(textCol)).as("__norm"))
      .select(col("id"), TextAnalysis.tokens(col("__norm")).as("__toks"))
      .select(col("id"), ngramHashesOf(col("__toks"), n).as("ng"))

  /** (id, sig) MinHash-over-n-grams signatures — the n-gram tier's
    * [[minhashSigned]], and the one signer the self-join door and the
    * [[writeNgramStore]] index share. */
  private def ngramSigned(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    ngramSets(df, idCol, textCol, n)
      .select(col("id"), minhashSignatureHashed(numHashes)(col("ng")).as("sig"))

  /** Word n-gram Jaccard near-dup: MinHash-LSH candidates over hashed word
    * n-grams, exact n-gram-set Jaccard verify ≥ threshold. Same
    * bucket-join shape as [[nearDupMinhash]], token-level granularity
    * (robust to intra-word edits, classic C4/CCNet-style dedup unit). */
  def nearDupNgram(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, numHashes: Int = 64,
      bands: Int = 0, maxBucketSize: Int = 100000): DataFrame = {
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b == 0,
      s"nearDupNgram: numHashes=$numHashes not divisible by bands=$b — " +
        "part of the signature would be silently ignored")
    // Snapshot (id, ng, sig) once (r19, the capBuckets-census fold):
    // the tokenization + gram-hash + signature pass was re-evaluated by
    // the cap census, the capped join side, AND each of the two
    // verify-side joins below — four full text passes per call. The
    // snap holds the gram-hash array + signature per doc (no text);
    // every consumer reads it.
    val withNg = snapFrame(ngramSets(df, idCol, textCol, n)
      .select(col("id"), col("ng"),
        minhashSignatureHashed(numHashes)(col("ng")).as("sig")))
    // null text was filtered at the source in ngramSets, so the shared
    // bandExplode's no-null-signature invariant holds — see its
    // phantom-bucket note
    val banded = bandExplode(withNg.select(col("id"), col("sig")),
      numHashes, b).select(col("id"), col("band"), col("bucket"))
    val capped = capBuckets(banded, Seq("band", "bucket"), maxBucketSize)
    val pairs = selfJoinPairs(capped, Seq("band", "bucket"), Nil)
      .dropDuplicates("id_a", "id_b")
    val ngs = withNg.select(col("id"), col("ng"))
    pairs
      .join(ngs.select(col("id").as("id_a"), col("ng").as("ng_a")), Seq("id_a"))
      .join(ngs.select(col("id").as("id_b"), col("ng").as("ng_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("ng_a"), col("ng_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** N-gram near-dup dedup end to end: one survivor (min id) per
    * connected near-dup component — [[dedupNearMinhash]]'s token-level
    * sibling, and the within-batch pass of [[ngramNovelAgainstStore]]. */
  def dedupNearNgram(dfIn: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, numHashes: Int = 64,
      bands: Int = 0, maxBucketSize: Int = 100000): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupNgram(dfIn, idCol, textCol, threshold, n, numHashes, bands,
        maxBucketSize))

  // -------------------------------------------------- ngram corpus store

  /** Table property stamped by [[writeNgramStore]]:
    * `v1:<n>:<numHashes>:<bands>`. */
  val NgramStoreProp = "graft.dedup.ngramParams"

  /** Persist a corpus's word-n-gram MinHash index — the token-level tier
    * of the persistent near-dup family, completing the symmetry with
    * [[writeMinhashStore]] (character shingles), [[writeSimhashStore]]
    * (Hamming) and [[writeEmbeddingStore]] (cosine): before it,
    * [[nearDupNgram]] required the full corpus per call. Identical
    * two-table layout and stamp discipline (shared
    * writeSignatureStore core): slim (id, band, bucket) rows bucketed by
    * the join key, (id, sig) rows bucketed by id, stamp unset across the
    * non-atomic two-table window, per-batch hot buckets capped with a
    * WARNING; growth ACROSS appends is guarded at join time and repaired
    * by [[compactNgramStore]]. `mode = "append"` ingests accepted
    * batches; drop with [[dropNgramStore]]. */
  def writeNgramStore(df: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 64, bands: Int = 8,
      buckets: Int = 64, mode: String = "overwrite",
      maxBucketSize: Int = 100000): Unit =
    writeSignatureStore(df, table,
      ngramSigned(_, idCol, textCol, n, numHashes),
      NgramStoreProp, s"v1:$n:$numHashes:$bands",
      numHashes, bands, buckets, mode, maxBucketSize, "writeNgramStore")

  /** Drop BOTH tables of a [[writeNgramStore]] index. */
  def dropNgramStore(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = dropSignatureStore(spark, table)

  /** The stamped (n, numHashes, bands) of a [[writeNgramStore]] table;
    * errors loudly when absent, mid-write, or unreadable. */
  private def ngramStoreParams(spark: org.apache.spark.sql.SparkSession,
      table: String): (Int, Int, Int) = {
    val stamp = readStoreStamp(spark, table, NgramStoreProp)
    stamp.map(_.split(':')) match {
      case Some(Array("v1", n, nh, b)) =>
        try (n.toInt, nh.toInt, b.toInt)
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"ngram store $table: unreadable $NgramStoreProp stamp " +
              s"'${stamp.get}' — rewrite with writeNgramStore")
        }
      case _ => throw new IllegalArgumentException(
        s"$table is not a writeNgramStore table (no readable " +
          s"$NgramStoreProp stamp — missing, mid-write, or foreign) — " +
          "rewrite it with writeNgramStore(mode=overwrite)")
    }
  }

  /** Candidate near-dup pairs of a NEW batch against a
    * [[writeNgramStore]] corpus — [[minhashCandidatesAgainstStore]]'s
    * token-level twin (same shared core, n-gram signer, same eager
    * joint-cap census at call time). Returns
    * (batch_id, corpus_id, jaccard_est). */
  def ngramCandidatesAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = 100000): DataFrame = {
    val (n, numHashes, bands) = ngramStoreParams(spark, table)
    signatureStoreCandidates(spark, batch, table,
      ngramSigned(_, idCol, textCol, n, numHashes),
      numHashes, bands, maxBucketSize, "writeNgramStore",
      s"ngramCandidatesAgainstStore($table)")
  }

  /** Batch rows with NO n-gram near-dup at `threshold` — the token-level
    * ingest filter; append survivors with `writeNgramStore(novel, table,
    * mode = "append")`. Same two-direction contract and banding-recall
    * warning as [[minhashNovelAgainstStore]]; the within-batch pass
    * ([[dedupNearNgram]]) verifies with EXACT n-gram jaccard, while the
    * corpus check is signature-estimated (the index deliberately carries
    * no text). */
  def ngramNovelAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame = {
    val (n, numHashes, bands) = ngramStoreParams(spark, table)
    novelAgainstSignatureStore(batch, idCol, threshold, numHashes, bands,
      s"ngramNovelAgainstStore($table)",
      ngramCandidatesAgainstStore(spark, batch, table, idCol, textCol,
        maxBucketSize),
      dedupWithinBatch,
      vsCorpus => dedupNearNgram(vsCorpus, idCol, textCol, threshold, n,
        numHashes = numHashes, bands = 0, maxBucketSize = maxBucketSize))
  }

  // ------------------------------------------------- store compaction

  /** Re-apply the hot-bucket cap to a persistent index's slim bucket
    * table — the maintenance door for buckets grown past `maxBucketSize`
    * ACROSS appends: each write caps only its own batch, so the union
    * can exceed the cap and re-open the join bomb the cap exists to
    * stop (until compaction, the candidates doors SKIP such buckets
    * with a warning — see [[capBucketsJoint]]). The rewrite goes
    * through a `__compact` sibling table + catalog rename — never a
    * read-and-overwrite of the table being scanned, and never a
    * driver/executor-memory snapshot of the store — and the bucket
    * census rides the store's own bucketing (no exchange). The stamp is
    * unset before the drop+rename swap and re-set after, so every crash
    * window leaves a store the doors refuse loudly rather than one
    * silently half-swapped.
    *
    * Double-append repair: the rewrite goes through `distinct()`, so a
    * batch appended twice (each copy re-emitting every pair touching
    * its docs at join time) collapses back to the row set a fresh
    * overwrite would hold. The census therefore counts distinct rows —
    * the same population write-time capping sees.
    *
    * Sibling VACUUM (`sibling` = (suffix, payload column), the
    * two-table tiers): after the slim swap lands — stamp still unset,
    * so a crash mid-vacuum leaves a loudly-refused store — the sibling
    * sig/vec table is rewritten to exactly ONE NON-NULL row per id
    * surviving in the slim table (null-payload filter + left-semi +
    * dropDuplicates(id), same tmp-table + rename discipline). Without
    * it, ids whose every band row was dropped keep their sig/vec rows
    * forever and double-appended batches leave duplicate sig rows, dead
    * weight taxing every estimate join's build side on the 100 TB
    * ingest loop. The null filter runs BEFORE the per-id dedup: a
    * pre-r17 store can carry a null-text sig row next to a later real
    * append of the same id, and an arbitrary pick could keep the null
    * one permanently — the read path's isNotNull filter must stay a
    * no-op after a vacuum, not the only thing hiding a lost signature.
    * Dropping an orphan's sig is safe: candidates fetch signatures only
    * for ids present in slim pairs, so a row with no band rows can
    * never join — exactly as if write-time capping had dropped it.
    * (A fresh overwrite of the accumulated corpus would keep sigs for
    * its OWN capped-out docs — rows the join can never reference either
    * way; the vacuum is the tighter of the two.) */
  private def recapBucketTable(spark: org.apache.spark.sql.SparkSession,
      table: String, bucketCols: Seq[String], maxBucketSize: Int,
      prop: String, ctx: String,
      sibling: Option[(String, String)] = None): Unit = {
    require(maxBucketSize > 0, s"$ctx: maxBucketSize must be positive")
    val payload = readStoreStamp(spark, table, prop).getOrElse(
      throw new IllegalArgumentException(
        s"$ctx: $table has no readable $prop stamp (missing, mid-write, " +
          "or foreign) — not a compactable store; rewrite it first"))
    def bucketCount(t: String): Int = {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
      meta.bucketSpec.map(_.numBuckets).getOrElse(
        throw new IllegalArgumentException(
          s"$ctx: $t is not bucketed — not a store table"))
    }
    val buckets = bucketCount(table)
    val tmp = table + "__compact"
    graft.join.SpatialJoin.dropBucketedTable(spark, tmp)
    capBucketsWarn(spark.table(table).distinct(), bucketCols,
      maxBucketSize, ctx)
      .repartition(buckets, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tmp)
    // swap: unset the stamp FIRST so a crash anywhere in the drop+rename
    // window (and the sibling vacuum after it) leaves a loudly-refused
    // store, not a silently stale one
    spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(table)} " +
      s"UNSET TBLPROPERTIES IF EXISTS ('$prop')")
    graft.join.SpatialJoin.dropBucketedTable(spark, table)
    spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(tmp)} " +
      s"RENAME TO ${graft.join.SpatialJoin.quoteTable(table)}")
    sibling.foreach { case (suffix, payloadCol) =>
      val sib = table + suffix
      if (spark.sessionState.catalog.tableExists(
          spark.sessionState.sqlParser.parseTableIdentifier(sib))) {
        val sibBuckets = bucketCount(sib)
        val sibTmp = sib + "__compact"
        graft.join.SpatialJoin.dropBucketedTable(spark, sibTmp)
        // surviving slim ids are the tiny side; the sibling streams from
        // its own id-bucketed files (no exchange on the big side)
        val surviving = spark.table(table).select(col("id")).distinct()
        spark.table(sib)
          .filter(col(payloadCol).isNotNull)
          .dropDuplicates("id")
          .join(surviving, Seq("id"), "left_semi")
          .repartition(sibBuckets, col("id"))
          .write.mode("overwrite").bucketBy(sibBuckets, "id").sortBy("id")
          .format("parquet").saveAsTable(sibTmp)
        graft.join.SpatialJoin.dropBucketedTable(spark, sib)
        spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(sibTmp)} " +
          s"RENAME TO ${graft.join.SpatialJoin.quoteTable(sib)}")
      }
    }
    spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(table)} " +
      s"SET TBLPROPERTIES ('$prop'='$payload')")
  }

  /** Bucket-occupancy statistics of a persistent index's slim bucket
    * table — the PROACTIVE "do I need compaction?" door (the join-time
    * over-cap warning is the reactive one): one row of
    * (n_rows, n_buckets, max_bucket, n_over_cap) with `n_over_cap`
    * counting bucket groups past `cap`. The aggregation rides the
    * store's own bucketing — no exchange. */
  private def storeBucketStats(spark: org.apache.spark.sql.SparkSession,
      table: String, bucketCols: Seq[String], cap: Int): DataFrame =
    spark.table(table)
      .groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      // coalesce: sum/max over an EMPTY bucket set (empty corpus, or a
      // write that dropped every group) are null, and the documented
      // one-row read pattern must see zeros; cap <= 0 follows the
      // family convention (cap disabled → nothing is over it)
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        coalesce(max(col("__n")), lit(0L)).as("max_bucket"),
        (if (cap <= 0) lit(0L)
         else coalesce(sum((col("__n") > cap).cast("long")), lit(0L)))
          .as("n_over_cap"))

  /** [[storeBucketStats]] for a [[writeMinhashStore]] index (stamp
    * verified): `n_over_cap > 0` means [[capBucketsJoint]] will skip
    * those buckets at join time — run [[compactMinhashStore]]. */
  def minhashStoreStats(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame = {
    minhashStoreParams(spark, table)
    storeBucketStats(spark, table, Seq("band", "bucket"), maxBucketSize)
  }

  /** [[storeBucketStats]] for a [[writeNgramStore]] index. */
  def ngramStoreStats(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame = {
    ngramStoreParams(spark, table)
    storeBucketStats(spark, table, Seq("band", "bucket"), maxBucketSize)
  }

  /** [[storeBucketStats]] for a [[writeSimhashStore]] index. */
  def simhashStoreStats(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame = {
    simhashStoreChunks(spark, table)
    storeBucketStats(spark, table, Seq("chunk", "bucket"), maxBucketSize)
  }

  /** [[storeBucketStats]] for a [[writeEmbeddingStore]] index. */
  def embeddingStoreStats(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame = {
    embeddingStoreParams(spark, table)
    storeBucketStats(spark, table, Seq("t", "sig"), maxBucketSize)
  }

  /** Compact a [[writeMinhashStore]] index: re-apply the hot-bucket cap
    * across everything appended so far (same WARN discipline as write
    * time), collapse double-appended rows, rewrite the slim band table
    * in place, and VACUUM the `__sigs` sibling down to one row per
    * surviving id (see [[recapBucketTable]] — orphaned and duplicate
    * sig rows otherwise accumulate without bound across the ingest
    * loop). Post-compaction the store is row-for-row what a fresh
    * `writeMinhashStore(overwrite)` of the accumulated corpus would
    * hold — minus buckets that individual batch writes already dropped,
    * which a fresh overwrite also drops, and minus sig rows no slim row
    * references, which can never join. */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(spark, table, Seq("band", "bucket"), maxBucketSize,
      MinhashStoreProp, s"compactMinhashStore($table)",
      sibling = Some((MinhashSigTableSuffix, "sig")))

  /** Compact a [[writeNgramStore]] index — see [[compactMinhashStore]]. */
  def compactNgramStore(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(spark, table, Seq("band", "bucket"), maxBucketSize,
      NgramStoreProp, s"compactNgramStore($table)",
      sibling = Some((MinhashSigTableSuffix, "sig")))

  /** Compact a [[writeSimhashStore]] index — see [[compactMinhashStore]].
    * NB dropping an over-cap (chunk, bucket) group forfeits the exact
    * ≤3-Hamming recall for pairs whose only agreeing chunk sat there —
    * the same caveat the writer's cap carries. */
  def compactSimhashStore(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(spark, table, Seq("chunk", "bucket"), maxBucketSize,
      SimhashStoreProp, s"compactSimhashStore($table)")

  /** Compact a [[writeEmbeddingStore]] index — see
    * [[compactMinhashStore]]; the vacuumed sibling here is the `__vecs`
    * table. */
  def compactEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(spark, table, Seq("t", "sig"), maxBucketSize,
      EmbeddingStoreProp, s"compactEmbeddingStore($table)",
      sibling = Some((EmbeddingVecTableSuffix, "vec")))

  // ------------------------------------------------------------ SimHash

  /** 64-bit SimHash over subword tokens. */
  def simhash64(text: Column): Column = {
    val f = udf((toks: Seq[String]) =>
      if (toks == null) None
      else {
        val acc = new Array[Int](64)
        toks.foreach { t =>
          val h = fmix64(t.hashCode.toLong * 0x9e3779b97f4a7c15L + 1)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
            i += 1
          }
        }
        var out = 0L
        var i = 0
        while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
        Some(out)
      })
    f(TextAnalysis.subwordTokens(text))
  }

  /** Chunk count whose pigeonhole covers `maxHamming`: `c` chunks of
    * `64/c` bits guarantee a pair within Hamming distance `c − 1`
    * agrees on at least one chunk. 4 chunks (16-bit buckets) reach
    * radius 3; 8 chunks (8-bit) reach 7; 16 chunks (4-bit) reach 15 —
    * at exponentially coarser buckets (2^width values), so wide radii
    * cost correspondingly bigger bucket joins. Past 15 the scheme's
    * buckets are too weak to be useful, and the request is refused
    * rather than silently under-recalled. NB the widened chunkings also
    * shrink the bucket DOMAIN (8 chunks: 256 values each; 16 chunks:
    * 16), so the hot-bucket cap saturates on large frames — the
    * widened-radius callers count and WARN on dropped groups rather
    * than silently returning nothing. */
  private[graft] def simhashChunkCount(ctx: String, maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"$ctx: maxHamming $maxHamming outside [0, 15] — 16 4-bit chunks " +
        "are the widest pigeonhole this 64-bit signature supports; a " +
        "larger radius would silently miss pairs")
    if (maxHamming <= 3) 4 else if (maxHamming <= 7) 8 else 16
  }

  /** (id, sim, chunk, bucket) chunking of a frame — the ONE producer all
    * three SimHash doors ride (self-join, store writer, store prober),
    * so the store layout and batch probing can never desynchronize. */
  private def simhashChunked(df: DataFrame, idCol: String,
      textCol: String, chunks: Int = 4): DataFrame = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    // Snapshot the 16-byte (id, sim) rows before chunk explosion (r19,
    // the capBuckets-census fold): every caller evaluates the chunked
    // frame at least twice (cap census + join side, or census + store
    // write), and with simhash64 inlined each evaluation re-hashed the
    // full text column. One eager pass signs; the chunk/bucket
    // re-derivation per consumer is two integer ops. Makes the doors
    // eager at call time (they already were for widened radii and the
    // store writes; nearDupSimhash's default radius gives up its
    // laziness for half the sign CPU).
    snapFrame(df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sim")))
      .select(col("id"), col("sim"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("bucket", expr(s"(sim >> (chunk * $width)) & $mask"))
  }

  /** SimHash near-dup: bucket by signature chunks (a pair within
    * hamming distance ≤ chunks−1 must agree on at least one chunk —
    * pigeonhole), verify with bit_count(xor) ≤ maxHamming. The chunk
    * count is derived FROM the radius ([[simhashChunkCount]]) so recall
    * is exact at every accepted `maxHamming` (≤ 15) UP TO the
    * hot-bucket cap: an over-`maxBucketSize` (chunk, bucket) group is
    * dropped, and a pair whose only agreeing chunk sat there is missed.
    * At the default radius (4 chunks, 65536-value buckets) that takes
    * genuine boilerplate; the WIDENED radii collapse the bucket domain
    * (maxHamming 4-7: 256 values/chunk; 8-15: 16), where any frame
    * beyond ~cap × domain rows saturates EVERY group — those paths
    * count dropped groups eagerly and WARN instead of silently
    * returning zero pairs. EVERY radius now runs an eager signing job
    * at call time (r19 — the (id, sim) snapshot in simhashChunked
    * halves the sign CPU; widened radii additionally run their census
    * eagerly), so don't construct these frames speculatively. The
    * default 3 keeps the classic 4×16-bit scheme. */
  def nearDupSimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame = {
    val chunks = simhashChunkCount("nearDupSimhash", maxHamming)
    val chunked = simhashChunked(df, idCol, textCol, chunks)
    // widened radii (narrow bucket domains) warn on drops — an eager
    // census pass; every radius signs eagerly now (the simhashChunked
    // snapshot, r19)
    val withChunk =
      if (chunks > 4) capBucketsWarned(chunked, Seq("chunk", "bucket"),
        maxBucketSize, s"nearDupSimhash(maxHamming=$maxHamming)")
      else capBuckets(chunked, Seq("chunk", "bucket"), maxBucketSize)
    selfJoinPairs(withChunk, Seq("chunk", "bucket"), Seq("sim"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** One survivor per near-dup component: the row whose id is the
    * component minimum (singletons survive as their own component) —
    * the pairs→survivors finish [[dedupNearMinhash]] and
    * [[dedupNearSimhash]] share. */
  private def keepMinIdSurvivors(dfIn: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs, "id_a", "id_b")
    val clusters = dfIn.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val survivors = clusters.filter(col("id") === col("cluster")).select("id")
    dfIn.join(survivors, dfIn(idCol) === survivors("id"), "left_semi")
  }

  /** SimHash near-dup dedup end to end: one survivor (min id) per
    * connected near-dup component — [[dedupNearMinhash]]'s SimHash
    * sibling, and the within-batch pass of
    * [[simhashNovelAgainstStore]]. */
  def dedupNearSimhash(dfIn: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupSimhash(dfIn, idCol, textCol, maxHamming, maxBucketSize))

  // ------------------------------------------------ simhash corpus store

  /** Table property stamped by [[writeSimhashStore]]: `v1:<chunks>` —
    * the chunk count the pigeonhole guarantee is built on (4 16-bit
    * chunks for the classic ≤3 radius; 8 or 16 for the widened radii,
    * [[simhashChunkCount]]). Pre-r18 stores stamped `v1:4` and remain
    * fully compatible: the default write layout is byte-identical. */
  val SimhashStoreProp = "graft.dedup.simhashParams"

  /** Persist a corpus's SimHash index — [[writeMinhashStore]]'s sibling
    * for the Hamming-distance tier, with a STRONGER contract: the
    * 4-chunk pigeonhole is exact (a pair within Hamming distance ≤ 3 of
    * a 64-bit signature MUST agree on one 16-bit chunk), so the store
    * door's recall is 100% at the ≤ 3 operating point, not an LSH
    * collision curve — UP TO the hot-bucket cap: an over-`maxBucketSize`
    * (chunk, bucket) group is dropped (WARNED at write time, and the
    * join applies the same union-count rule as the self-join door), and
    * a pair whose only agreeing chunk sat in a dropped group is missed.
    * A corpus hitting that warning wants an exact-dedup pass first —
    * 100k+ rows sharing a 16-bit chunk value is boilerplate, not
    * near-dup structure. One row per (chunk, bucket) membership,
    * bucketed by the join key — batch joins read co-located files with
    * zero corpus-side shuffle; `mode = "append"` ingests accepted
    * batches.
    *
    * WIDENED radii (r18, closing the last batch/store asymmetry of the
    * dedup family): `maxHamming` in [4, 15] stamps the corresponding
    * coarser chunk layout (8 8-bit chunks to radius 7; 16 4-bit chunks
    * to 15 — [[simhashChunkCount]]), and the candidates door then
    * accepts any radius the STAMPED layout's pigeonhole covers. The
    * same caveat as the in-frame door: a coarser layout shrinks the
    * bucket DOMAIN (256 or 16 values per chunk), so large corpora
    * saturate the hot-bucket cap — drops are WARNED at write time here
    * and at join time by the joint-cap guard. Appends must match the
    * stamped layout (mixed chunkings hash different buckets). */
  def writeSimhashStore(df: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 64, mode: String = "overwrite",
      maxBucketSize: Int = 100000, maxHamming: Int = 3): Unit = {
    val spark = df.sparkSession
    val chunks = simhashChunkCount(s"writeSimhashStore($table)", maxHamming)
    val payload = s"v1:$chunks"
    val (modeNorm, existedBefore) = checkStoreWrite(spark, table, mode,
      SimhashStoreProp, payload, "writeSimhashStore")
    capBucketsWarn(simhashChunked(df, idCol, textCol, chunks),
      Seq("chunk", "bucket"), maxBucketSize, s"writeSimhashStore($table)")
      .repartition(buckets, col("chunk"), col("bucket"))
      .write.mode(mode)
      .bucketBy(buckets, "chunk", "bucket").sortBy("chunk", "bucket")
      .format("parquet")
      .saveAsTable(table)
    stampStore(spark, table, modeNorm, existedBefore, SimhashStoreProp, payload)
  }

  /** The stamped chunk count of a [[writeSimhashStore]] table (4, 8, or
    * 16); errors loudly when absent, mid-write, or unreadable. */
  private def simhashStoreChunks(spark: org.apache.spark.sql.SparkSession,
      table: String): Int = {
    val stamp = readStoreStamp(spark, table, SimhashStoreProp)
    stamp.map(_.split(':')) match {
      case Some(Array("v1", c)) if Seq("4", "8", "16").contains(c) => c.toInt
      case _ => throw new IllegalArgumentException(
        s"$table is not a writeSimhashStore table (no readable " +
          s"$SimhashStoreProp stamp — missing, mid-write, or foreign) — " +
          "rewrite it with writeSimhashStore(mode=overwrite)")
    }
  }

  /** Near-dup pairs of a NEW batch against a [[writeSimhashStore]]
    * corpus: batch signatures (one pass over the batch), chunk
    * explosion at the STAMPED chunk count, equi-join on (chunk, bucket)
    * — no corpus-side shuffle — then the exact
    * `bit_count(xor) ≤ maxHamming` verify. Returns
    * (batch_id, corpus_id, hamming). `maxHamming` must stay within the
    * stamped layout's pigeonhole (chunks − 1: 3 for the default 4-chunk
    * store, 7 for an 8-chunk one, 15 for 16) — recall is exact up to
    * that radius; a store written for a wider radius serves any
    * narrower probe. Over-cap bucket groups are SKIPPED with a warning
    * (the joint-cap guard), the one recall exception. Runs the small
    * eager joint-cap census job at call time — see
    * [[minhashCandidatesAgainstStore]]'s note. */
  def simhashCandidatesAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame = {
    val chunks = simhashStoreChunks(spark, table)
    require(maxHamming >= 0 && maxHamming <= chunks - 1,
      s"simhashCandidatesAgainstStore: maxHamming $maxHamming outside " +
        s"[0, ${chunks - 1}] — the store's STAMPED $chunks-chunk layout's " +
        s"pigeonhole guarantees recall only to Hamming distance " +
        s"${chunks - 1}, and a wider radius would silently miss pairs; " +
        "rewrite the store with writeSimhashStore(maxHamming=<radius>) " +
        "for a wider operating point")
    val store = spark.table(table)
    require(Seq("id", "sim", "chunk", "bucket").forall(store.columns.contains),
      s"$table does not have writeSimhashStore's (id, sim, chunk, bucket) layout")
    // joint capping — see minhashCandidatesAgainstStore
    val (b0, c0) = capBucketsJoint(
      simhashChunked(batch, idCol, textCol, chunks),
      store, Seq("chunk", "bucket"), maxBucketSize,
      s"simhashCandidatesAgainstStore($table)")
    val b = b0.select(col("chunk"), col("bucket"),
      col("id").as("batch_id"), col("sim").as("sim_b"))
    val c = c0.select(col("chunk"), col("bucket"),
      col("id").as("corpus_id"), col("sim").as("sim_c"))
    b.join(c, Seq("chunk", "bucket"))
      .withColumn("hamming", bit_count(col("sim_b").bitwiseXOR(col("sim_c"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
      .dropDuplicates("batch_id", "corpus_id")
  }

  /** Batch rows with no corpus match within `maxHamming` AND (by
    * default) one survivor per within-batch near-dup component — the
    * SimHash ingest filter; append survivors with
    * `writeSimhashStore(novel, table, mode = "append")`. */
  def simhashNovelAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame = {
    val hits = simhashCandidatesAgainstStore(spark, batch, table, idCol,
        textCol, maxHamming, maxBucketSize)
      .select(col("batch_id")).distinct()
    val vsCorpus = batch.join(hits, batch(idCol) === hits("batch_id"),
      "left_anti")
    if (!dedupWithinBatch) vsCorpus
    else dedupNearSimhash(vsCorpus, idCol, textCol, maxHamming, maxBucketSize)
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup: sign-LSH bucket join (random-hyperplane
    * signature over `bits` planes), exact cosine verify ≥ threshold inside
    * buckets. Planes are derived deterministically from (plane, dim) hashes
    * so all executors agree without shared state.
    *
    * OR-amplified over `tables` independent signature tables (each its own
    * planes): a near pair only has to collide in ONE table, so recall at
    * cosine c is 1-(1-p^bits)^tables with p = 1-acos(c)/π ([[signRecall]];
    * exact duplicates are always caught). Candidates are deduped across
    * tables before the exact verify.
    *
    * Plane sizing is RECALL-TARGETED by default (r17, the same
    * [[resolvePlanes]] rule as [[writeEmbeddingStore]], so the two
    * doors' defaults agree at equal thresholds): bits/tables ≤ 0
    * resolve via [[autoPlanes]] for ≥90% recall at THIS call's
    * `threshold` — (13, 8) at 0.95 where the pre-r17 hand-set 12/4
    * gave a correct-but-surprising ~73%. Pinning both keeps them
    * verbatim; pinning one derives the other. */
  def nearDupEmbedding(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 0, tables: Int = 0,
      maxBucketSize: Int = 100000): DataFrame = {
    val (bitsR, tablesR) = resolvePlanes("nearDupEmbedding", threshold,
      targetRecall = 0.9, bits, tables)
    val withVec = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // one signature column per table, exploded to (table, sig) bucket keys.
    // The signature array is snapshotted BEFORE the explode (r19, the
    // capBuckets-census fold): the cap census re-evaluated every table's
    // bits×dim hyperplane dots on top of the join side's run — 2× the
    // signing CPU per call. The snap carries (id, vec, sigs): vec rides
    // anyway as the verify payload, sigs add tables longs per row.
    val sigCols = (0 until tablesR).map(t =>
      struct(lit(t).as("t"), Similarity.signSignatureSeeded(bitsR, t)(col("vec")).as("sig")))
    val signed = snapFrame(
      withVec.select(col("id"), col("vec"), array(sigCols: _*).as("__sigs")))
    val bucketed = capBuckets(
      signed.select(col("id"), col("vec"), explode(col("__sigs")).as("ts"))
        .select(col("id"), col("vec"), col("ts.t").as("t"), col("ts.sig").as("sig")),
      Seq("t", "sig"), maxBucketSize)
    selfJoinPairs(bucketed, Seq("t", "sig"), Seq("vec"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", Similarity.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding near-dup dedup end to end: one survivor (min id) per
    * connected near-dup component — the cosine tier's
    * [[dedupNearMinhash]] sibling, and the within-batch pass of
    * [[embeddingNovelAgainstStore]]. */
  def dedupNearEmbedding(dfIn: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 0, tables: Int = 0,
      maxBucketSize: Int = 100000): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupEmbedding(dfIn, idCol, vecCol, threshold, bits, tables, maxBucketSize))

  // --------------------------------------------- embedding corpus store

  /** Sign-LSH recall at cosine `cos` under (bits, tables): a pair
    * collides in ONE table with probability p^bits where
    * p = 1 − acos(cos)/π (the random-hyperplane agreement probability,
    * Charikar 2002), and anywhere with 1 − (1 − p^bits)^tables. */
  private[graft] def signRecall(cos: Double, bits: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits), tables)
  }

  /** Tables needed for `targetRecall` at cosine `threshold` with
    * `bits`-plane signatures: ceil(ln(1−target)/ln(1−p^bits)). */
  private def tablesFor(threshold: Double, targetRecall: Double,
      bits: Int): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val pb = math.pow(p, bits)
    if (pb >= 1.0) 1
    else if (pb <= 0.0) Int.MaxValue
    else math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toInt.max(1)
  }

  /** Recall-targeted (bits, tables) for a sign-LSH index — the
    * [[autoBands]] analog of the cosine tier: the widest (most
    * selective) signature whose table count for `targetRecall` at the
    * `threshold` operating point stays within `maxTables`. Wider
    * signatures need more OR-amplification tables (index size ∝ tables)
    * but shed false candidates exponentially (a random pair collides
    * anywhere with ~tables/2^bits), so the scan runs bits high→low and
    * takes the first fit; if even the narrowest considered signature
    * (8 bits) cannot reach the target within `maxTables`, that floor is
    * returned and the novel door's recall warning fires at join time.
    * autoPlanes(0.95) = (13, 8): recall ≈ 0.90 at cosine 0.95 — vs
    * ~0.73 from the historical hand-set 12-bit/4-table default. */
  private[graft] def autoPlanes(threshold: Double,
      targetRecall: Double = 0.9, maxTables: Int = 8): (Int, Int) = {
    // full cosine domain: thresholds <= 0 are valid operating points
    // (the target is simply unreachable — tablesFor diverges, the scan
    // falls to the 8-bit floor and resolvePlanes' recall warning fires)
    require(threshold >= -1 && threshold < 1,
      s"autoPlanes: threshold $threshold outside [-1, 1)")
    require(targetRecall > 0 && targetRecall < 1,
      s"autoPlanes: targetRecall $targetRecall outside (0, 1)")
    (24 to 8 by -1).iterator
      .map(b => (b, tablesFor(threshold, targetRecall, b)))
      .collectFirst { case (b, t) if t <= maxTables => (b, t) }
      .getOrElse((8, maxTables))
  }

  /** Resolve a sign-LSH (bits, tables) request — the ONE sizing rule
    * the in-frame door ([[nearDupEmbedding]]) and the store writer
    * ([[writeEmbeddingStore]]) share, so their defaults can never drift
    * again (review r17): both pinned (> 0) → verbatim, no validation of
    * the recall target (the pre-r17 accept-anything contract); both
    * unset → [[autoPlanes]] at the threshold; exactly one pinned →
    * derive the other for the same target. Auto-resolved sizings that
    * cannot reach the target (the 8-bit floor) WARN — a pinned sizing
    * is the caller's informed choice and stays silent. */
  private[graft] def resolvePlanes(ctx: String, threshold: Double,
      targetRecall: Double, bits: Int, tables: Int,
      maxTables: Int = 8): (Int, Int) = {
    def checkTarget(): Unit = {
      // the full cosine domain is accepted (r18, ADVICE r17 #1): a
      // threshold <= 0 is a valid operating point at which the recall
      // target is simply unreachable — auto sizing falls to the 8-bit
      // floor and the warning below fires, matching autoPlanes
      require(threshold >= -1 && threshold <= 1,
        s"$ctx: auto plane sizing needs a cosine threshold in [-1, 1] — " +
          s"got $threshold; pin bits and tables explicitly for operating " +
          "points outside it")
      require(targetRecall > 0 && targetRecall < 1,
        s"$ctx: targetRecall $targetRecall outside (0, 1)")
    }
    val resolved = (bits > 0, tables > 0) match {
      case (true, true) => (bits, tables)
      case (false, false) =>
        checkTarget()
        if (threshold >= 1) (24, 1) // exact dups collide in any table
        else autoPlanes(threshold, targetRecall, maxTables)
      case (true, false) =>
        checkTarget()
        val t = if (threshold >= 1) 1 else tablesFor(threshold, targetRecall, bits)
        require(t <= 64,
          s"$ctx: $bits-bit signatures need $t tables for recall " +
            s"$targetRecall at cosine $threshold — an index that large is " +
            "almost certainly a mis-set operating point; use fewer bits " +
            "or let autoPlanes choose (bits=0, tables=0)")
        (bits, t)
      case (false, true) =>
        checkTarget()
        (if (threshold >= 1) 24
         else autoPlanes(threshold, targetRecall, maxTables = tables)._1,
          tables)
    }
    if ((bits <= 0 || tables <= 0) && threshold < 1 &&
        signRecall(threshold, resolved._1, resolved._2) < targetRecall - 1e-9)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"$ctx: auto-sized planes (${resolved._1} bits × ${resolved._2} " +
          f"tables) reach only ${100 * signRecall(threshold, resolved._1, resolved._2)}%.0f%% " +
          f"recall at cosine $threshold — the table budget cannot meet " +
          f"targetRecall $targetRecall at this operating point (exact " +
          "duplicates are still always caught)")
    resolved
  }

  /** Table property stamped by [[writeEmbeddingStore]]:
    * `v1:<bits>:<tables>`. */
  val EmbeddingStoreProp = "graft.dedup.embeddingParams"

  /** Suffix of the per-row vector table living next to a
    * [[writeEmbeddingStore]] bucket table. */
  val EmbeddingVecTableSuffix = "__vecs"

  /** (id, vec) cast pass shared by the embedding store doors; null
    * vectors dropped (they can never verify, and a null signature would
    * otherwise share one bucket per table — the minhash hash(null)
    * lesson). */
  private def embeddingVecs(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)

  /** (id, t, sig) sign-LSH bucket rows of an (id, vec) frame — the ONE
    * bucket derivation the self-join door ([[nearDupEmbedding]]'s
    * seeded tables) and the store doors share. */
  private def embeddingBucketRows(withVec: DataFrame, bits: Int,
      tables: Int): DataFrame = {
    val sigCols = (0 until tables).map(t =>
      struct(lit(t).as("t"),
        Similarity.signSignatureSeeded(bits, t)(col("vec")).as("sig")))
    withVec
      .select(col("id"), explode(array(sigCols: _*)).as("ts"))
      .select(col("id"), col("ts.t").as("t"), col("ts.sig").as("sig"))
  }

  /** Persist a corpus's sign-LSH embedding index — the cosine tier of
    * the persistent near-dup family ([[writeMinhashStore]] /
    * [[writeSimhashStore]]). Same two-table discipline as the minhash
    * index: slim (id, t, sig) bucket rows bucketed by the join key,
    * plus an (id, vec) table bucketed by id for the exact-cosine verify
    * (fetched once per DEDUPED pair). RECALL is the sign-LSH curve, not
    * exact ([[signRecall]]): a pair at cosine c collides in one table
    * with probability p^bits (p = 1 − acos(c)/π) and anywhere with
    * 1 − (1 − p^bits)^tables — exact duplicates always — while
    * PRECISION is exact (every emitted pair carries the true cosine).
    * Batches dedup against precisely what [[nearDupEmbedding]] finds on
    * the union AT THE STAMPED (bits, tables). Both doors default to the
    * same [[resolvePlanes]] auto-sizing, so defaults agree whenever the
    * in-frame threshold equals this writer's `autoThreshold`; for any
    * other operating point pass the stamped planes to nearDupEmbedding
    * for a like-for-like comparison (EmbeddingStoreSpec does exactly
    * this).
    *
    * Plane sizing is RECALL-TARGETED by default: bits/tables ≤ 0 (the
    * default) resolves via [[autoPlanes]] to the stamped operating
    * point — `autoThreshold` cosine at `targetRecall` — (13, 8) for the
    * 0.95/0.9 defaults, ≥90% recall where the historical hand-set 12/4
    * gave a correct-but-surprising ~73%. Setting exactly one of
    * bits/tables derives the other for the same target; setting both
    * pins them verbatim (the pre-r17 behavior). The novel door WARNS
    * when a requested threshold's recall under the STAMPED parameters
    * falls below ~90%.
    *
    * `mode = "append"` ingests accepted batches; the stamp is unset for
    * the non-atomic two-table write window, like the minhash index. */
  def writeEmbeddingStore(df: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 0, tables: Int = 0, buckets: Int = 64,
      mode: String = "overwrite", maxBucketSize: Int = 100000,
      autoThreshold: Double = 0.95, targetRecall: Double = 0.9): Unit = {
    val (bitsR, tablesR) = resolvePlanes("writeEmbeddingStore",
      autoThreshold, targetRecall, bits, tables)
    val spark = df.sparkSession
    val payload = s"v1:$bitsR:$tablesR"
    val (modeNorm, existedBefore) = checkStoreWrite(spark, table, mode,
      EmbeddingStoreProp, payload, "writeEmbeddingStore")
    if (existedBefore && (modeNorm == "overwrite" || modeNorm == "append"))
      try spark.sql(s"ALTER TABLE ${graft.join.SpatialJoin.quoteTable(table)} " +
        s"UNSET TBLPROPERTIES IF EXISTS ('$EmbeddingStoreProp')")
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    val vecTable = table + EmbeddingVecTableSuffix
    val withVec = embeddingVecs(df, idCol, vecCol)
    val vecSource =
      if (modeNorm == "append") Some(snapFrame(withVec)) else None
    vecSource.getOrElse(withVec)
      .repartition(buckets, col("id"))
      .write.mode(mode).bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(vecTable)
    val bucketRows = embeddingBucketRows(
      vecSource.getOrElse(spark.table(vecTable)), bitsR, tablesR)
    capBucketsWarn(bucketRows, Seq("t", "sig"), maxBucketSize,
      s"writeEmbeddingStore($table)")
      .repartition(buckets, col("t"), col("sig"))
      .write.mode(mode)
      .bucketBy(buckets, "t", "sig").sortBy("t", "sig")
      .format("parquet")
      .saveAsTable(table)
    stampStore(spark, table, modeNorm, existedBefore, EmbeddingStoreProp, payload)
  }

  /** Drop BOTH tables of a [[writeEmbeddingStore]] index. */
  def dropEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    graft.join.SpatialJoin.dropBucketedTable(spark, table)
    graft.join.SpatialJoin.dropBucketedTable(spark, table + EmbeddingVecTableSuffix)
  }

  /** The stamped (bits, tables) of a [[writeEmbeddingStore]] index;
    * errors loudly when absent, mid-write, or unreadable. */
  private def embeddingStoreParams(spark: org.apache.spark.sql.SparkSession,
      table: String): (Int, Int) = {
    val stamp = readStoreStamp(spark, table, EmbeddingStoreProp)
    stamp.map(_.split(':')) match {
      case Some(Array("v1", b, t)) =>
        try (b.toInt, t.toInt)
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"embedding store $table: unreadable $EmbeddingStoreProp stamp " +
              s"'${stamp.get}' — rewrite with writeEmbeddingStore")
        }
      case _ => throw new IllegalArgumentException(
        s"$table is not a writeEmbeddingStore table (no readable " +
          s"$EmbeddingStoreProp stamp — missing, mid-write, or foreign) — " +
          "rewrite it with writeEmbeddingStore(mode=overwrite)")
    }
  }

  /** Candidate pairs of a NEW batch against a [[writeEmbeddingStore]]
    * corpus, with the EXACT cosine attached (the verify is built in —
    * every emitted pair carries the true cosine, so filtering at a
    * threshold gives exactly what [[nearDupEmbedding]] finds on the
    * union AT THE STAMPED (bits, tables); see the writer's parity
    * note). Returns (batch_id, corpus_id, cosine). Runs the small
    * eager joint-cap census job at call time — see
    * [[minhashCandidatesAgainstStore]]'s note. */
  def embeddingCandidatesAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 100000): DataFrame = {
    val (bits, tables) = embeddingStoreParams(spark, table)
    val store = spark.table(table)
    require(Seq("id", "t", "sig").forall(store.columns.contains),
      s"$table does not have writeEmbeddingStore's slim (id, t, sig) layout")
    val vecs = spark.table(table + EmbeddingVecTableSuffix)
    require(Seq("id", "vec").forall(vecs.columns.contains),
      s"$table$EmbeddingVecTableSuffix does not have the (id, vec) layout")
    val bVec = snapFrame(embeddingVecs(batch, idCol, vecCol))
    val (b0, c0) = capBucketsJoint(
      embeddingBucketRows(bVec, bits, tables),
      store, Seq("t", "sig"), maxBucketSize,
      s"embeddingCandidatesAgainstStore($table)")
    val pairs = b0.select(col("t"), col("sig"), col("id").as("batch_id"))
      .join(c0.select(col("t"), col("sig"), col("id").as("corpus_id")),
        Seq("t", "sig"))
      .select(col("batch_id"), col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    // null filter before the per-id pick — see the sigs fetch in
    // signatureStoreCandidates for why order matters
    pairs
      .join(vecs.filter(col("vec").isNotNull)
        .select(col("id").as("corpus_id"), col("vec").as("vec_c"))
        .dropDuplicates("corpus_id"), Seq("corpus_id"))
      .join(bVec.select(col("id").as("batch_id"), col("vec").as("vec_b")),
        Seq("batch_id"))
      .select(col("batch_id"), col("corpus_id"),
        Similarity.cosine(col("vec_b"), col("vec_c")).as("cosine"))
  }

  /** Batch rows with no corpus match at `threshold` cosine AND (by
    * default) one survivor per within-batch near-dup component — the
    * embedding ingest filter; append survivors with
    * `writeEmbeddingStore(novel, table, mode = "append")`. Null-vector
    * rows never match and always come back novel. */
  def embeddingNovelAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame = {
    val (bits, tables) = embeddingStoreParams(spark, table)
    // the cosine tier's analog of the minhash door's collision-point
    // warning: the STAMPED planes fix the recall curve, and a threshold
    // whose recall under them is poor mostly declares near-dups novel
    val recall = signRecall(threshold, bits, tables)
    if (recall < 0.9)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"embeddingNovelAgainstStore($table): the stamped $bits-bit × " +
          f"$tables-table planes catch only ${recall * 100}%.0f%% of " +
          f"pairs at cosine $threshold (exact duplicates always) — " +
          "most near-dups at that similarity will be declared novel; " +
          "rewrite the store with autoPlanes sizing (writeEmbeddingStore " +
          "bits=0/tables=0 with autoThreshold at this operating point)")
    val hits = embeddingCandidatesAgainstStore(spark, batch, table, idCol,
        vecCol, maxBucketSize)
      .filter(col("cosine") >= threshold)
      .select(col("batch_id")).distinct()
    val vsCorpus = batch.join(hits, batch(idCol) === hits("batch_id"),
      "left_anti")
    if (!dedupWithinBatch) vsCorpus
    else dedupNearEmbedding(vsCorpus, idCol, vecCol, threshold, bits,
      tables, maxBucketSize)
  }

  // -------------------------------------------------- decontamination

  /** Train-set rows sharing at least one word `n`-gram with a benchmark /
    * eval document set (the standard "n-gram overlap" decontamination
    * check, n=8..13 in published pipelines). Returns the distinct
    * contaminated train ids.
    *
    * Scale shape: the benchmark side (small by definition — eval sets are
    * thousands of docs, not billions) collapses to its distinct grams and
    * is broadcast, so the 100 TB train side never shuffles for the join;
    * the only train-side shuffle is the final id-distinct. Documents
    * shorter than `n` tokens contribute their whole text as one gram
    * (matching [[wordNgrams]]). */
  def contaminated(train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchText: String, n: Int = 8): DataFrame = {
    // materialize the token array per document BEFORE the gram transform
    // (the per-element re-tokenization trap wordNgrams documents): the
    // tokenizer regex runs once per document, not once per gram position
    // — this is the 100 TB side of the module.
    // Null text filtered on BOTH sides: without it, null tokens fall to
    // wordNgramsOfTokens' whole-text branch as the [""] gram, so one
    // null-text bench row would mark every null-text train row
    // contaminated — and the store door ([[contaminatedAgainstStore]]),
    // which null-filters in ngramSets, would disagree (review r17)
    val tg = train
      .filter(col(trainText).isNotNull)
      .select(col(trainId).as("id"),
        TextAnalysis.tokens(TextAnalysis.normalized(col(trainText))).as("__toks"))
      .select(col("id"), explode(wordNgramsOfTokens(col("__toks"), n)).as("gram"))
    val bg = bench
      .filter(col(benchText).isNotNull)
      .select(TextAnalysis.tokens(TextAnalysis.normalized(col(benchText))).as("__toks"))
      .select(explode(wordNgramsOfTokens(col("__toks"), n)).as("gram")).distinct()
    tg.join(broadcast(bg), Seq("gram")).select("id").distinct()
  }

  /** [[contaminated]] complement: `train` rows that share NO word n-gram
    * with the benchmark set, all columns kept (left-anti join on the
    * contaminated id set). */
  def decontaminate(train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchText: String, n: Int = 8): DataFrame = {
    val bad = contaminated(train, trainId, trainText, bench, benchText, n)
    train.join(bad, train(trainId) === bad("id"), "left_anti")
  }

  // --------------------------------------------- decontamination store

  /** Table property stamped by [[writeDecontamStore]]: `v1:<n>`. */
  val DecontamStoreProp = "graft.dedup.decontamParams"

  /** Persist a benchmark/eval suite's distinct word-n-gram HASH set —
    * the decontamination tier of the persistent index family: eval
    * suites are stable across ingest batches, so the
    * normalize→tokenize→gram pass over them is paid ONCE here and every
    * later batch pays only its own gram stream plus a broadcast join
    * against this (small — one 8-byte hash per distinct gram) table.
    * Grams travel as xxhash64 longs, the family's hash-only discipline
    * (collisions ~2⁻⁶⁴); docs shorter than `n` tokens contribute their
    * whole text as one gram, matching [[contaminated]]. One column
    * (`gram` BIGINT), plain parquet — the join door BROADCASTS the
    * table, which ignores bucketing, so no bucketed layout is paid
    * for. The stamped `n` refuses mixed gram lengths at both doors
    * (grams of different n never match — every miss would be silent).
    * `mode = "append"` ingests additional eval suites (batch-distinct
    * on write; cross-append duplicates are harmless — the join door
    * re-distincts its broadcast side). */
  def writeDecontamStore(bench: DataFrame, table: String,
      textCol: String = "text", n: Int = 8, buckets: Int = 16,
      mode: String = "overwrite"): Unit = {
    val spark = bench.sparkSession
    val payload = s"v1:$n"
    val (modeNorm, existedBefore) = checkStoreWrite(spark, table, mode,
      DecontamStoreProp, payload, "writeDecontamStore")
    val grams = ngramSets(bench.select(lit(0L).as("__id"), col(textCol)),
        "__id", textCol, n)
      .select(explode(col("ng")).as("gram")).distinct()
    // plain parquet, no bucketBy: the only reader BROADCASTS the table
    // (a broadcast join ignores bucketing), so a bucketed layout would
    // pay a write-side sort for zero read-side benefit (review r17);
    // the repartition just bounds the file count of a small table
    grams
      .repartition(buckets)
      .write.mode(mode)
      .format("parquet").saveAsTable(table)
    stampStore(spark, table, modeNorm, existedBefore, DecontamStoreProp, payload)
  }

  /** The stamped n of a [[writeDecontamStore]] table; errors loudly
    * when absent or unreadable. */
  private def decontamStoreN(spark: org.apache.spark.sql.SparkSession,
      table: String): Int = {
    val stamp = readStoreStamp(spark, table, DecontamStoreProp)
    stamp.map(_.split(':')) match {
      case Some(Array("v1", n)) =>
        try n.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"decontam store $table: unreadable $DecontamStoreProp stamp " +
              s"'${stamp.get}' — rewrite with writeDecontamStore")
        }
      case _ => throw new IllegalArgumentException(
        s"$table is not a writeDecontamStore table (no readable " +
          s"$DecontamStoreProp stamp) — write it with writeDecontamStore")
    }
  }

  /** [[contaminated]] against a [[writeDecontamStore]] suite: train rows
    * sharing at least one word n-gram (at the STAMPED n) with the stored
    * eval grams. The store side is re-distincted (append overlap) and
    * broadcast — eval suites are small by definition, the same premise
    * as the direct door — so the 100 TB train side never shuffles for
    * the join; its only shuffle is the final id-distinct. Returns the
    * distinct contaminated train ids. */
  def contaminatedAgainstStore(spark: org.apache.spark.sql.SparkSession,
      train: DataFrame, trainId: String, trainText: String,
      table: String): DataFrame = {
    val n = decontamStoreN(spark, table)
    val store = spark.table(table)
    require(store.columns.contains("gram"),
      s"$table does not have writeDecontamStore's (gram) layout")
    val tg = ngramSets(train, trainId, trainText, n)
      .select(col("id"), explode(col("ng")).as("gram"))
    tg.join(broadcast(store.select(col("gram")).distinct()), Seq("gram"))
      .select("id").distinct()
  }

  /** [[decontaminate]] against a [[writeDecontamStore]] suite: train
    * rows sharing NO stored gram, all columns kept. */
  def decontaminateAgainstStore(spark: org.apache.spark.sql.SparkSession,
      train: DataFrame, trainId: String, trainText: String,
      table: String): DataFrame = {
    val bad = contaminatedAgainstStore(spark, train, trainId, trainText, table)
    train.join(bad, train(trainId) === bad("id"), "left_anti")
  }

  // ------------------------------------ cross-document duplicated spans

  /** Token k-gram hashes WITH multiplicity and position order (unlike
    * [[wordNgrams]], which set-dedups) — one xxhash64 per gram position,
    * so nothing downstream ever shuffles gram STRINGS. Docs shorter than
    * `n` tokens contribute their whole text as one gram (same convention
    * as [[wordNgrams]]). */
  def gramHashSeq(text: Column, n: Int): Column =
    gramHashesOfTokens(TextAnalysis.tokens(TextAnalysis.normalized(text)), n)

  /** [[gramHashSeq]] over an already-materialized token array column (use
    * this when tokens feed several expressions — an attribute is computed
    * once, an inline tokenizer re-runs per consumer). */
  def gramHashesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(xxhash64(concat_ws(" ", toks))))

  /** Cross-document duplicated k-gram signal — the distributed shape of
    * exact-substring dedup (spans repeated across documents; the
    * train-data dedup described in Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2022). Per document: how many of
    * its k-gram positions carry a gram that also occurs in at least
    * `minDocs` distinct documents (itself included).
    *
    * Output: (id, n_grams, n_dup_grams, dup_frac).
    *
    * Scale shape: grams travel as xxhash64 longs, never strings; the
    * per-(gram, doc) pre-aggregate is map-side combined, the gram-level
    * document count is a count over that compact set, and the join back
    * is hash-on-long. Boilerplate grams are the classic skew key — at
    * cluster scale enable AQE skew join; the aggregates themselves are
    * insensitive. */
  def crossDocGramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(gramHashSeq(col(textCol), n)).as("gh"))
    // one row per (gram, doc) with the doc's position count
    val perDoc = exploded.groupBy(col("gh"), col("id"))
      .agg(count(lit(1)).as("c"))
    // grams present in >= minDocs distinct docs (perDoc is unique per
    // (gh, id), so the doc count is a plain count)
    val dupGrams = perDoc.groupBy(col("gh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    val dupPerDoc = perDoc.join(dupGrams, Seq("gh"))
      .groupBy(col("id")).agg(sum(col("c")).as("n_dup_grams"))
    // per-doc totals from the SAME compact (gram, doc) aggregate — the
    // two branches share an identical exchange subtree, so ReuseExchange
    // tokenizes the corpus once (deriving totals from the raw text again
    // would re-run the tokenizer over every document)
    val totals = perDoc.groupBy(col("id")).agg(sum(col("c")).as("n_grams"))
    totals
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Span starts of cross-document duplicated k-grams: (id, pos, gh),
    * 0-based token position — the removal-tool feed ([[crossDocGramStats]]
    * aggregates this to per-doc fractions). Spans overlap by construction
    * (consecutive positions of a long shared run each emit); merging
    * overlapping [pos, pos+n) intervals is the consumer's (cheap,
    * per-document) step. */
  def crossDocDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        posexplode(gramHashSeq(col(textCol), n)).as(Seq("pos", "gh")))
    val dupGrams = exploded.select(col("gh"), col("id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gh")
    exploded.join(dupGrams, Seq("gh")).select("id", "pos", "gh")
  }

  /** Exact-substring dedup, removal step: rebuild each document's
    * NORMALIZED text with cross-document duplicated runs removed.
    * Ownership is decided PER GRAM (the smallest id sharing that gram
    * keeps its copy; every other document drops the covered tokens), so
    * for each shared gram exactly one corpus-wide occurrence survives.
    * NB the guarantee is gram-granular, not run-granular: when shared
    * runs of different document subsets OVERLAP, a document can own one
    * gram while a neighboring gram (owned elsewhere) strips part of the
    * same run — the union of surviving grams still covers every shared
    * sequence corpus-wide, but no single document is guaranteed an
    * intact copy of a run longer than n. Within-document repeats are not
    * touched (they are the repetition signals' job, not dedup's).
    *
    * Output: (id, text) — text is the kept-token join; a document whose
    * every token is covered (e.g. a short doc wholly contained in an
    * earlier one) comes back empty, ready for a length filter. Ids may be
    * any orderable type (integral, string, ...); ownership is min-by-id.
    *
    * Scale shape: same hash-only gram stream as [[crossDocGramStats]];
    * ownership is a (min, count) aggregate per gram; covered positions
    * come back as one array per document (bounded by doc length), and the
    * token filter is an indexed higher-order function — no UDF, no
    * per-row quadratic work beyond tokens × spans. */
  def stripCrossDocDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    // id keeps its ORIGINAL type — min/join/groupBy work for any orderable
    // key, and a cast-to-long would silently null out string ids, merging
    // every non-numeric document into one null-keyed group.
    val base = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("toks"))
    val posGrams = base.select(col("id"),
      posexplode(gramHashesOfTokens(col("toks"), n)).as(Seq("pos", "gh")))
    val owners = posGrams.select(col("gh"), col("id")).distinct()
      .groupBy(col("gh"))
      .agg(min(col("id")).as("owner"), count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"), col("owner"))
    val strip = posGrams.join(owners, Seq("gh"))
      .filter(col("id") =!= col("owner"))
      .groupBy(col("id")).agg(collect_list(col("pos")).as("spans"))
    base.join(strip, Seq("id"), "left")
      .select(col("id"),
        when(col("spans").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            filter(col("toks"), (_, i) =>
              !exists(col("spans"), p => i >= p && i < p + n))))
          .as("text"))
  }

  // ------------------------------------------- near-dup pair clustering

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup hits into dedup GROUPS (a ~ b, b ~ c ⇒ one
    * cluster, one survivor).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two shuffle-bounded groupBy/join passes over the edge set, and the
    * edge set converges to per-component stars rooted at the component
    * minimum in O(log n) rounds even for path graphs (plain min-label
    * propagation needs O(diameter)). No driver-side state: ids never leave
    * the cluster except for the two scalar convergence aggregates per
    * round. Lineage is truncated every round: with a RELIABLE checkpoint
    * dir configured (`sc.setCheckpointDir`, e.g. an HDFS/S3 path) the
    * round result is written there — an executor loss mid-loop recovers
    * from the checkpoint; without one it falls back to `localCheckpoint`
    * (executor-block storage — fine on local[*] / small jobs, but a lost
    * executor kills the lineage irrecoverably, so set a checkpoint dir for
    * long cluster runs).
    *
    * Ids may be any orderable Spark type (integral, string, ...). Returns
    * `(id, component)` for every id appearing in `pairs`, where
    * `component` is the smallest id reachable.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val u = col("u"); val v = col("v")
    // reliable checkpoint when the session has a dir configured (eager —
    // same semantics as localCheckpoint(true)), executor-local otherwise
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    var edges = truncate(pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(u =!= v)
      .select(least(u, v).as("u"), greatest(u, v).as("v"))
      .distinct())

    // set signature = (count, xor of row hashes): order-insensitive, safe
    // under ANSI mode (no sum overflow), sound because the set is distinct
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(u, v).as("h")).agg(count(lit(1)), expr("bit_xor(h)")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // both directions once per round; reused by both stars
      val nbrs = edges.select(u, v).unionAll(edges.select(v.as("u"), u.as("v")))
      // large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
      val lmin = nbrs.groupBy(u).agg(min(v).as("__mv"))
        .select(u, least(col("__mv"), u).as("m"))
      val large = nbrs.join(lmin, "u").filter(v > u)
        .select(v.as("u"), col("m").as("v"))
      // small-star over edges directed large→small: all small neighbors
      // (and u itself) link to the smallest
      val dirSmall = large.filter(u =!= v)
        .select(greatest(u, v).as("u"), least(u, v).as("v"))
        .distinct()
      val smin = dirSmall.groupBy(u).agg(min(v).as("m"))
      val small = truncate(dirSmall.join(smin, "u")
        .select(v.as("u"), col("m").as("v"))
        .unionAll(smin.select(u, col("m").as("v")))
        .filter(u =!= v)
        .select(least(u, v).as("u"), greatest(u, v).as("v"))
        .distinct())
      val nsig = signature(small)
      converged = nsig == sig
      sig = nsig
      edges = small
      it += 1
    }
    // at the fixpoint edges form stars (member, root); roots label themselves
    edges.select(v.as("id"), u.as("component"))
      .unionAll(edges.select(u.as("id"), u.as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
  }

  /** Cluster assignment for EVERY row of `df`: near-dup components from
    * [[nearDupMinhash]] pairs, singletons keep their own id. Output:
    * `(id, cluster)` with cluster = min id of the row's component. */
  def clusterNearMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5): DataFrame = {
    val pairs = nearDupMinhash(df, idCol, textCol, threshold, numHashes, bands, shingleK)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
  }

  /** Near-dup dedup end to end: keep one survivor per cluster (the row
    * whose id IS the cluster minimum). Returns the surviving rows of `df`
    * with all original columns. */
  def dedupNearMinhash(dfIn: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupMinhash(dfIn, idCol, textCol, threshold, numHashes, bands, shingleK))
}
