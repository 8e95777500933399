package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling") — extension beyond
  * the reference: select raw-corpus documents that look like a TARGET
  * domain under bag-of-hashed-ngrams unigram models.
  *
  * Per document, the importance weight is
  *   log p_target(doc) − log p_raw(doc)
  *     = Σ_features tf_f · [ln((ct_f+α)/(T_t+αB)) − ln((cr_f+α)/(T_r+αB))]
  * where features are word unigrams + bigrams hashed into B buckets
  * (the hash IS the vocabulary — nothing corpus-sized to build or
  * broadcast), ct/cr are target/raw bucket counts, T_t/T_r totals, α
  * add-α smoothing.
  *
  * 100 TB shape: the two bucket-count tables are ONE explode +
  * partial-agg groupBy each, output ≤ B config-sized rows; the ratio
  * table (≤ B rows) broadcast-joins back to the per-(doc, bucket)
  * frequencies; the per-doc weight is one groupBy. Nothing data-scale
  * reaches the driver, and the target corpus (small by definition —
  * it's the domain sample you're steering toward) is only ever reduced
  * to its bucket table.
  *
  * Determinism: buckets come from the codegen'd portable fold
  * ([[Dedup.portableFold]]), and the per-doc float sum folds in bucket
  * order (the t10/c02 bit-stable pattern), so weights are hash-exact
  * reproducible and the ds01 gate replays the whole pipeline in DuckDB.
  */
object Dsir {

  /** (id, __bp) per-doc bucket-tf PAIR ARRAYS (sorted by bucket) of
    * `textCol` — r17 opt: the per-(doc, bucket) aggregation happens
    * inside the row ([[graft.functions.BucketTfPairs]], one compiled
    * pass over the token array), so the corpus never shuffles
    * token-level rows; the old explode → groupBy(id, bucket) shape paid
    * a full exchange of ~2·tokens rows per call. Bucket assignment and
    * counts are bit-identical (same portableFold, same floorMod).
    */
  private def bucketPairs(df: DataFrame, textCol: String, idCol: String,
                          buckets: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.bucketTfPairs(
        expr(TextAnalysis.tokensExpr(textCol)), buckets).as("__bp"))

  /** (id, bucket, tf) hashed unigram+bigram occurrences of `textCol`. */
  private def bucketTf(df: DataFrame, textCol: String, idCol: String,
                       buckets: Int): DataFrame =
    bucketPairs(df, textCol, idCol, buckets)
      .select(col("id"), explode(col("__bp")).as("__p"))
      .select(col("id"), col("__p.bucket").as("bucket"), col("__p.tf").as("tf"))

  /** Per-bucket feature counts of a corpus — the persistable, mergeable
    * LM form (counts are sums: merge shards by adding).
    */
  def bucketCounts(df: DataFrame, textCol: String, idCol: String,
                   buckets: Int = 10000): DataFrame =
    bucketTf(df, textCol, idCol, buckets)
      .groupBy("bucket").agg(sum("tf").as("cnt"))

  /** Importance weights for every `raw` document: (id, n_feats, weight).
    * Documents with no features get weight 0. `buckets` bounds both LM
    * tables and the broadcast ratio table; `alpha` is add-α smoothing
    * (must be > 0 so unseen-in-target buckets stay finite).
    *
    * Precondition: `raw` ids are UNIQUE. Weighting is per ROW (each
    * row's text scores independently); duplicate ids would each carry
    * their own row's weight, not a combined per-document weight.
    */
  /** `materialize = true` (default) shares the tokenized raw frame
    * across its three consumers (persist) and returns an eagerly
    * checkpointed result so no cache or broadcast outlives the call;
    * `false` returns the pure lazy plan — for plan inspection and for
    * composing into a larger DAG that manages its own materialization
    * (its plan reads the ratio broadcast, so that stays alive).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        textCol: String, idCol: String,
                        buckets: Int = 10000, alpha: Double = 1.0,
                        materialize: Boolean = true): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in [1, 2^24], got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val tgt = bucketCounts(target, textCol, idCol, buckets)
    // the per-doc pair frame feeds the LM-count branch and the scoring
    // projection — persist so the raw corpus is tokenized ONCE (the
    // SetJoin shared-frame pattern). r17 opt: pairs, not exploded rows —
    // the per-(doc, bucket) tf aggregation happens inside the row
    // (BucketTfPairs), so the LM-count branch shuffles only map-side
    // partial per-bucket sums (≤ buckets rows per task) and the scoring
    // stage shuffles NOTHING: the log-ratio table is config-sized
    // (≤ buckets rows — the old shape broadcast the same table anyway),
    // so it is collected once and each doc's weight is one compiled
    // in-row pass (BucketWeightSum) over its sorted pairs — the same
    // bucket-ascending float fold order, bit-identical weights. The old
    // shape paid one exchange of ~2·tokens (id, bucket) rows into the
    // per-doc groupBy plus a corpus-wide left join back to raw ids;
    // both are gone (every raw doc has exactly one pair row).
    val rawBp0 = bucketPairs(raw, textCol, idCol, buckets)
    val rawBp =
      if (materialize)
        rawBp0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rawBp0
    // try/finally (r15 persist audit): the loud requires below are
    // user-facing session-survivable errors — the tokenized cache must
    // release on that path too, not only before the success return
    try {
      val rawCnt = rawBp.select(explode(col("__bp")).as("__p"))
        .select(col("__p.bucket").as("bucket"), col("__p.tf").as("tf"))
        .groupBy("bucket").agg(sum("tf").as("cr"))
      // r18 opt: ONE collect drives totals AND the ratio table. The r17
      // shape paid three jobs here (two scalar totals, then the ratio
      // collect) and tokenized the target corpus twice; a full-outer
      // join of the two config-sized LM tables carries both corpus
      // totals and every observed bucket's counts in ≤ buckets rows.
      // The log-ratios fold on the driver with StrictMath.log — the
      // SAME function Spark's log() expression evaluates (verified
      // against spark-catalyst: UnaryLogExpression binds
      // java.lang.StrictMath.log), so lr values are bit-identical to
      // the r17 in-plan formulation.
      val lm = rawCnt.join(tgt, Seq("bucket"), "full_outer")
        .select(col("bucket"), col("cr"), col("cnt")).collect()
      var tTot = 0L; var rTot = 0L
      lm.foreach { r =>
        if (!r.isNullAt(1)) rTot += r.getLong(1)
        if (!r.isNullAt(2)) tTot += r.getLong(2)
      }
      require(rTot > 0, "importanceWeights: raw corpus has no tokens")
      require(tTot > 0, "importanceWeights: target corpus has no tokens")
      val b = buckets.toDouble
      // ratio over the raw corpus's observed buckets (a bucket no raw doc
      // hits can never contribute to a raw doc's weight)
      val lrArr = Array.fill(buckets)(Double.NaN) // NaN = bucket unobserved
      lm.foreach { r =>
        if (!r.isNullAt(1)) {
          val cr = r.getLong(1).toDouble
          val ct = if (r.isNullAt(2)) 0.0 else r.getLong(2).toDouble
          lrArr(r.getInt(0)) =
            StrictMath.log((ct + alpha) / (tTot + alpha * b)) -
              StrictMath.log((cr + alpha) / (rTot + alpha * b))
        }
      }
      // r18 (ADVICE): the ratio array rides a REAL broadcast instead of
      // a plan reference object — a reference object is serialized with
      // the task binary for every stage that contains the expression
      // (128 MB per task at the 2^24 bucket bound); a broadcast ships
      // once per executor via the block manager.
      val lrBc = raw.sparkSession.sparkContext.broadcast(lrArr)
      val lazyOut = rawBp
        .select(col("id"), graft.functions.VectorFunctions
          .bucketWeightSum(col("__bp"), lrBc).as("__s"))
        .select(col("id"),
          coalesce(col("__s").getField("n_feats"), lit(0L)).as("n_feats"),
          coalesce(col("__s").getField("weight"), lit(0.0)).as("weight"))
      if (!materialize) lazyOut
      // materialize the (one-row-per-raw-doc) result inside the try so
      // the finally drops the tokenized cache only after the checkpoint
      // holds the data (the SetJoin pattern); the checkpoint cuts the
      // lineage, so the ratio broadcast has no reader left either
      else try lazyOut.localCheckpoint(eager = true) finally lrBc.destroy()
    } finally if (materialize) rawBp.unpersist(blocking = false)
  }

  /** Select `k` raw documents by importance. Default is the
    * deterministic argmax (top-k by weight, doc-id tie-break);
    * `gumbelSeed` switches to DSIR's Gumbel top-k — sampling ∝ exp(w) —
    * with deterministic hash-derived noise, so a retried stage draws
    * the SAME sample (the c03/c07 retry-determinism contract).
    * Selection is a global TakeOrdered of k rows — no full sort lands.
    *
    * Documents with no features are EXCLUDED: their log-ratio is an
    * empty sum (0), which would spuriously outrank every real document
    * whenever the raw corpus scores negative overall — an unscoreable
    * doc is not a top-ranked doc.
    */
  def resample(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
               k: Int, buckets: Int = 10000, alpha: Double = 1.0,
               gumbelSeed: Option[Long] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = importanceWeights(raw, target, textCol, idCol, buckets, alpha)
      .filter(col("n_feats") > 0)
    val keyed = gumbelSeed match {
      case None => w.withColumn("__key", col("weight"))
      case Some(seed) =>
        // u ∈ (0, 1) from the portable fold of (seed, id) — never exactly
        // 0 or 1, so the double log is finite
        val prime = 1000000007d
        val u = (Dedup.portableFold(concat_ws("§", lit(seed.toString),
          col("id").cast("string"))).cast("double") + 1d) / (prime + 2d)
        w.withColumn("__key", col("weight") - log(-log(u)))
    }
    keyed.orderBy(col("__key").desc, col("id").asc)
      .limit(k)
      .select("id", "n_feats", "weight")
  }
}
