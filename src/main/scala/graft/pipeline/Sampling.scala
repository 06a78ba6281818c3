package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for dataset curation.
  *
  * Train/val/test assignment must be reproducible across runs, engines
  * and languages, and stable under joins — `rand()`-based sampling is
  * none of those. Hash bucketing is: md5 of the id's string form, first
  * 8 hex chars parsed as an integer, modulo the bucket count. The same
  * expression is exactly computable in DuckDB
  * (`CAST('0x' || substr(md5(id), 1, 8) AS BIGINT)`), Python, or
  * anything with md5 — so a split assigned here can be reproduced by a
  * downstream consumer without shipping membership lists.
  */
object Sampling {

  /** Hash bucket in [0, buckets). */
  def hashBucket(id: Column, buckets: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** train / val / test label by percent boundaries over 100 buckets. */
  def split(id: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    val b = hashBucket(id, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** DSIR-style hashed-n-gram importance log-weights ("Data Selection
    * for Language Models via Importance Resampling", Xie et al. 2023):
    * score every document by how target-like its token distribution is,
    * log w(d) = Σ_tokens [ln p_target(bucket(tok)) − ln p_raw(bucket(tok))],
    * where both unigram bucket models are add-one-smoothed categorical
    * distributions over `buckets` hashed features — p estimated from
    * the rows matching `isTarget`, p_raw from the rest. Sampling
    * proportional to exp(log w) then yields raw data distributed like
    * the target domain; this operator emits the weights (plus the
    * token count), leaving the resampling policy to the caller
    * ([[weightedSample]] / [[mixtureSample]]).
    *
    * Scale shape: one tokenize+hash pass (portable md5 buckets, so the
    * oracle replays them bit-exactly), the two bucket LMs are ONE
    * grouped aggregate over ≤ `buckets` rows (broadcast back as log
    * ratios), and the per-doc score folds (bucket, count) pairs in
    * bucket order over an in-row sorted array — one shuffle keyed by
    * doc, float addition order pinned, no per-token state. */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 256): DataFrame = {
    require(buckets > 0, "need at least one bucket")
    val toks = graft.Tables.fanOut(docs)
      .select(col(idCol).as("__id"), isTarget.as("__t"),
        explode(Dedup.tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .select(col("__id"), col("__t"),
        pmod(Dedup.md5Long(col("__tok")), lit(buckets.toLong)).as("__b"))
      // mode-aware cut, not persist — the returned weight plan stays
      // lazy over this frame (see Dedup.lshCandidatePairs)
      .transform(graft.operators.LoopCheckpoint.cut)
    // both bucket LMs in one aggregate over <= buckets rows
    val counts = toks.groupBy(col("__b"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
        sum(when(col("__t"), 0L).otherwise(1L)).as("__cs"))
    val totals = toks.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__tt"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("__ts"))
    val bD = lit(buckets.toDouble)
    val deltas = counts.crossJoin(totals)
      .select(col("__b"),
        (log((col("__ct") + lit(1L)).cast("double") /
            (col("__tt").cast("double") + bD)) -
          log((col("__cs") + lit(1L)).cast("double") /
            (col("__ts").cast("double") + bD))).as("__d"))
    toks.groupBy(col("__id"), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .join(broadcast(deltas), Seq("__b"))
      .groupBy(col("__id"))
      .agg(
        sum(col("__n")).as("n_toks"),
        sort_array(collect_list(
          struct(col("__b"), col("__n"), col("__d")))).as("__cs"))
      .select(col("__id").as(idCol), col("n_toks"),
        aggregate(col("__cs"), lit(0.0d), (acc, s) =>
          acc + s("__n").cast("double") * s("__d")).as("log_weight"))
  }

  /** Sequence packing for pretraining: assign documents to fixed
    * token-budget bins. Docs are hash-sharded (so packing parallelizes —
    * no global sort at 100 TB), then packed contiguously within each
    * shard in id order: bin = floor(exclusive-prefix-sum(tokens) /
    * budget). A bin may overrun the budget by at most one document (the
    * standard streaming-packing contract); every doc lands in exactly
    * one (shard, bin). Deterministic and engine-portable — the oracle
    * replays the same windows. */
  def packSequences(df: DataFrame, idCol: String, tokenCountCol: String,
      budget: Long, numShards: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("shard", hashBucket(col(idCol), numShards))
      .withColumn("bin",
        (coalesce(sum(col(tokenCountCol)).over(w), lit(0L)) / budget)
          .cast("long"))
  }

  /** Deterministic stratified sample: exactly min(k, stratum size) rows
    * per stratum, chosen by md5-hash order of the id (ties broken by the
    * id itself, so the selection is total and engine-portable — the
    * oracle replays it with the same ROW_NUMBER window). One shuffle on
    * the stratum key; rank-k selection happens within each window
    * partition, so a giant stratum never concentrates on one reducer
    * more than its own window sort. For eval-set carving (k per label)
    * rather than percentage splits. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Per-group quota capping: keep at most `k` rows per group, the ones
    * ranking highest by `scoreCol` (ties broken by `idCol` ascending, so
    * selection is total and engine-portable). The canonical curation use
    * is a per-domain document cap — no single crawl domain may dominate
    * the training mix. Same scaling shape as [[stratifiedSample]]: one
    * shuffle on the group key, rank-k inside each window partition. */
  def quotaPerGroup(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("quota_rank", row_number().over(w))
      .filter(col("quota_rank") <= k)
  }

  /** `quotaPerGroup` as a native AGGREGATION instead of a window rank:
    * the `top_k_by_score` TypedImperativeAggregate rides Spark's
    * HashAggregate, so each partition pre-reduces to ≤ k entries per
    * group BEFORE the shuffle (map-side combine) — the window form
    * shuffles and sorts every row. Same (group, quota_rank, id, score)
    * output, same (score desc, id asc) total order; score returns as
    * double (cast back if the source column was integral). */
  def quotaPerGroupAgg(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopK.top_k_by_score(
        col(scoreCol).cast("double"), col(idCol).cast("long"), k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")))
      .select(col(groupCol),
        (col("pos") + 1).cast("int").as("quota_rank"),
        col("col.id").as(idCol),
        col("col.score").as(scoreCol))

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, A-ES): per stratum, keep the k rows maximizing
    * `u^(1/w)` where `u` is a deterministic per-id uniform and `w` the
    * row's weight — inclusion probability proportional to weight, no
    * `rand()`, reproducible across engines and runs. The uniform comes
    * from a Knuth multiplicative hash (`id·2654435761 mod 2^32`, shifted
    * to bucket midpoints) — exactly computable in any engine with 64-bit
    * integer arithmetic, which is what makes the selection replayable by
    * a SQL oracle. The sampling key is ROUNDED (7 dp) so cross-libm
    * `pow` ulp drift cannot flip a rank; ties break on ascending id —
    * a total order, same contract as [[quotaPerGroupAgg]].
    *
    * One-pass: the `top_k_by_score` bounded-heap aggregate pre-reduces
    * every partition to ≤ k candidates per stratum before the shuffle,
    * so data movement is strata×k rows, not the corpus — the window-rank
    * form of weighted sampling shuffles and sorts everything. The
    * multiplicative hash overflows 64-bit for ids above ~2^33 — feed a
    * pre-mixed id (e.g. `xxhash64`) when keys are that large and the
    * replayability requirement moves to whatever engine computes it.
    *
    * Returns `(stratum, sample_rank, id, sample_key)`, rank 1 = most
    * favored draw. */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    val u = (pmod(col(idCol).cast("long") * lit(2654435761L),
        lit(4294967296L)).cast("double") + 0.5) / lit(4294967296.0)
    // clamp only against non-positive weights: fractional weights MUST
    // keep their A-ES semantics (inclusion probability proportional to
    // weight) — a max(w, 1) clamp would silently treat every w <= 1 as 1
    val key = round(pow(u,
      lit(1.0) / greatest(col(weightCol).cast("double"), lit(1e-9))), 7)
    df.select(col(stratumCol).as("stratum"),
        col(idCol).cast("long").as("id"), key.as("__key"))
      .groupBy("stratum")
      .agg(graft.functions.TopK.top_k_by_score(
        col("__key"), col("id"), k).as("__top"))
      .select(col("stratum"), posexplode(col("__top")))
      .select(col("stratum"),
        (col("pos") + 1).cast("long").as("sample_rank"),
        col("col.id").as("id"),
        col("col.score").as("sample_key"))
  }

  /** Temperature-scaled mixture multipliers (the T5/PaLM data-mixing
    * rule): raise each group's weight to `1/T` and normalize so the
    * MEAN multiplier is 1 — `T = 1` reproduces the weights' proportions,
    * `T → ∞` flattens toward uniform, `T < 1` sharpens. Pure driver-side
    * math over per-group constants; feed the result to
    * [[upsampleByGroup]]. */
  def temperatureMultipliers(weights: Map[String, Double],
      temperature: Double): Map[String, Double] = {
    require(temperature > 0, "temperature must be positive")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val u = weights.map { case (g, w) =>
      g -> math.pow(w, 1.0 / temperature) }
    val mean = u.values.sum / u.size
    u.map { case (g, v) => g -> v / mean }
  }

  /** Materialize a fractional per-group repetition factor: each row is
    * emitted `floor(m)` times plus one more for a deterministic
    * hash-chosen `frac(m)` share of its group — groups with `m < 1`
    * downsample (some rows emit zero copies), groups with `m > 1`
    * upsample, and in expectation each group's row count scales by
    * exactly `m`. This is how a temperature-adjusted mixture becomes a
    * physical training corpus: epochs-per-source as data, not a
    * sampler config.
    *
    * The fractional draw reuses the md5 `hashBucket` (engine-portable,
    * join-stable); multipliers are quantized to 1/10000 so both engines
    * compare the same integers — no float math at query time. Groups
    * absent from the map keep multiplier 1. Output repeats each input
    * row with `rep` = 1..count; the explode is generator-only
    * (shuffle-free), so the operator parallelizes with the scan at any
    * scale. */
  def upsampleByGroup(df: DataFrame, groupCol: String, idCol: String,
      multipliers: Map[String, Double]): DataFrame = {
    require(multipliers.values.forall(m => m >= 0 && m < 1000),
      "multipliers must be in [0, 1000)")
    val base = multipliers.foldLeft(lit(1L)) { case (acc, (g, m)) =>
      when(col(groupCol) === g, lit(math.floor(m).toLong)).otherwise(acc)
    }
    val thr = multipliers.foldLeft(lit(0L)) { case (acc, (g, m)) =>
      when(col(groupCol) === g,
        lit(math.round((m - math.floor(m)) * 10000))).otherwise(acc)
    }
    val cnt = (base +
      when(hashBucket(col(idCol), 10000) < thr, 1L).otherwise(0L))
      .cast("long")
    df.withColumn("__reps",
        when(cnt >= 1L, sequence(lit(1L), cnt))
          .otherwise(array().cast("array<bigint>")))
      .withColumn("rep", explode(col("__reps")))
      .drop("__reps")
  }

  /** Deterministic weighted mixture sampling: keep each row with its
    * group's probability, by hash threshold — row survives iff
    * `hashBucket(id, 10000) < weight·10000`. Reproducible across
    * engines/runs (no `rand()`), join-stable, and exactly replayable by
    * a downstream consumer who knows the weight table. Groups absent
    * from `weights` get `defaultWeight`. Pure row-local filter — fuses
    * into the scan, no shuffle at any scale. */
  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 1),
      "mixture weights must be in [0, 1]")
    // thresholds quantized on the DRIVER with math.round, like
    // upsampleByGroup: (w * 10000).cast(long) at query time TRUNCATES
    // the IEEE product (0.57 * 10000 = 5699.999…), dropping bucket 5699
    // and breaking the documented "survives iff bucket < weight·10000"
    // replay contract — no float math at query time
    def thresh(w: Double): Long = math.round(w * 10000.0)
    val wcol = weights.foldLeft(lit(thresh(defaultWeight))) {
      case (acc, (g, p)) =>
        when(col(groupCol) === g, lit(thresh(p))).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), 10000) < wcol)
  }
}
