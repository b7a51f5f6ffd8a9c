package graft.ops

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators distilled from the reference pipelines
  * (SURVEY.md §2), re-expressed as pure `DataFrame => DataFrame` /
  * `Column => Column` builders with Spark-grade (deterministic,
  * null-explicit) semantics.
  *
  * Determinism note: pandas keep-first / keep-last dedup depends on
  * physical row order (reference `dags/icpe-siretisation.py:275-277,336`);
  * here every dedup takes an explicit total ordering so results are
  * stable under any partitioning — a requirement both for the DuckDB
  * oracle and for reproducible runs on a 1000-executor cluster.
  */
object RelationalOps {

  /** Input-parallelism guard for expensive per-row compute stages
    * (r16 optimization; guide §2.5 "input skew" / §6 "small files"):
    * a fixture-sized parquet file arrives as ONE scan split
    * (`openCostInBytes` floors the split size, and a single row group
    * cannot split at all), so a narrow stage that does real per-row
    * work — audio sample decode, the minhash digest loop, gram
    * hashing — runs on one core no matter how many the session has
    * (measured: q59's 150 M-sample decode single-task). When the
    * compiled scan's partition count is below the session's default
    * parallelism, redistribute BEFORE the expensive projection
    * (hash-partitioned when key columns are given so a downstream
    * keyed exchange is already satisfied, round-robin otherwise);
    * when the input is already at least core-wide — the 100 TB
    * regime, where scans arrive in thousands of splits — this is the
    * identity and adds NOTHING to the plan. Deciding from the plan's
    * partition count keeps it scale-adaptive rather than a local-mode
    * constant (ShufflePolicy discipline). The count is read from the
    * physical plan ([[plannedPartitions]]), so the probe runs no job
    * even when the input already contains an exchange. */
  def spreadNarrowInput(df: DataFrame, partitionCols: Seq[Column] = Nil): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) >= target) df
    else if (partitionCols.nonEmpty) df.repartition(target, partitionCols: _*)
    else df.repartition(target)
  }

  /** The number of partitions `df`'s compiled plan will produce, read
    * from the plan without executing it. A known output partitioning
    * (an exchange, a coalesce, a bucketed scan) gives its static count,
    * before any AQE coalescing; otherwise the count flows up from the
    * leaves, where a scan's RDD is built lazily from its split list.
    * Broadcast build sides count as 0: the stream side sets the width.
    * For a plan without an exchange this equals
    * `queryExecution.toRdd.getNumPartitions`, which would instead make
    * AQE run every upstream stage of a plan that has one. */
  private[graft] def plannedPartitions(df: DataFrame): Int =
    plannedPartitions(df.queryExecution.executedPlan)

  private def plannedPartitions(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => plannedPartitions(a.executedPlan)
    case m: InMemoryTableScanExec => plannedPartitions(m.relation.cachedPlan)
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => 0
    case _ if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
    case u: UnionExec => u.children.map(plannedPartitions).sum
    case c: CartesianProductExec => plannedPartitions(c.left) * plannedPartitions(c.right)
    case l: LeafExecNode => l.execute().getNumPartitions
    case _ => p.children.map(plannedPartitions).max
  }

  /** A2 (`drop_duplicates(subset=keys)` keep-first) with an explicit
    * total order. One shuffle on `keys`; window stays within the
    * shuffled partition, no second exchange.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** A1 (sort by `order` then keep LAST per key,
    * `dags/icpe-siretisation.py:275-277`). */
  def keepLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    keepFirst(df, keys, order.map(_.desc))

  /** A1 alternative without a window: one aggregation carrying the
    * whole row as `max(struct(orderCols ++ payload))`. A struct buffer
    * with string fields cannot hash-aggregate, so Spark plans a
    * `SortAggregate` with a sort on each side of the exchange; the
    * partial aggregate still combines map-side before the shuffle,
    * which a window cannot, so it is preferable at scale when the key
    * cardinality is high.
    * Returns one struct column `m`; caller projects fields.
    */
  def latestByAgg(df: DataFrame, keys: Seq[String], orderCols: Seq[Column], payload: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max(struct(orderCols ++ payload: _*)).as("m"))

  /** F7: three-valued dict lookup (`dags/icpe-siretisation.py:177-216`):
    * NULL → NULL, known code → label, unknown code → "" (the reference
    * logs a warning and maps to empty string).
    */
  def labelMap(c: Column, mapping: Map[String, String]): Column =
    when(c.isNull, lit(null: String))
      .otherwise(coalesce(element_at(typedLit(mapping), c), lit("")))

  /** P8: conditional coalesce (`dags/icpe-siretisation.py:248-250,287-289`):
    * replace an invalid identifier (shorter than `validLen` or NULL —
    * pandas `len(str(NaN)) == 3` makes NaN invalid too) with a candidate,
    * but only when the candidate itself is valid.
    */
  def coalesceValid(orig: Column, cand: Column, validLen: Int = 14): Column =
    when((length(orig) < validLen || orig.isNull) && (length(cand) === validLen), cand)
      .otherwise(orig)

  /** P6: the validity predicate used by the coverage stats
    * (`dags/icpe-siretisation.py:241,256,283,297`). */
  def isValidId(c: Column, validLen: Int = 14): Column =
    length(c) === validLen

  /** J5: membership flag via left join against a key set
    * (`dags/publish-open-data.py:75-79`) — semantically a left-semi
    * marker; implemented as a broadcastable left join on the deduped key
    * column so the flag column survives.
    */
  def membershipFlag(df: DataFrame, keyCol: String, members: DataFrame,
                     memberKey: String, flagName: String, flagValue: String = "oui"): DataFrame = {
    val m = members.select(col(memberKey).as(keyCol)).distinct()
      .withColumn(flagName, lit(flagValue))
    df.join(broadcast(m), Seq(keyCol), "left")
  }

  /** F4: postal-code extraction (`dags/icpe-siretisation.py:236`).
    * pandas `str.extract` yields NaN on no-match; Spark yields "" — wrap
    * with nullif for parity.
    */
  def extractPostalCode(address: Column): Column =
    nullif(regexp_extract(address, "(\\d{5}) ", 1), lit(""))

  /** F1+F3: separator concat where pandas NaN-propagates then fills ""
    * (`dags/icpe-siretisation.py:153-154`). */
  def concatOrEmpty(sep: String, cols: Column*): Column =
    coalesce(concat(cols.flatMap(c => Seq(c, lit(sep))).dropRight(1): _*), lit(""))

  /** Skew-mitigating equi-join: salt the skewed (big) side's key with a
    * random-ish but DETERMINISTIC shard (hash of the whole row modulo
    * `salt`), replicate the small side once per shard, join on
    * (key, shard). A hot key that would land a single reducer with
    * billions of rows spreads over `salt` reducers instead — the manual
    * fallback when AQE's skew-join splitting can't kick in (e.g.
    * pre-AQE stages or non-shuffle join inputs). Output equals the
    * plain inner join, row for row.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int = 8,
                 spread: Option[Column] = None): DataFrame = {
    // shard source: any deterministic per-row value that VARIES WITHIN
    // the hot key. Default = hash of the whole row (always correct);
    // pass a cheap high-cardinality column via `spread` when the row is
    // wide — the adversarial sweep measured the full-row hash costing
    // ~25% of the join on an 11-column lineitem (spread=l_orderkey
    // closed the gap). At local scale AQE's skew split beats both; this
    // operator is for engines/paths where AQE is unavailable (e.g.
    // stream-static joins) or the skew is known ahead of time.
    val shardSrc = spread.getOrElse(hash(struct(big.columns.map(col): _*)))
    val saltedBig = big.withColumn("__shard", pmod(hash(shardSrc), lit(salt)))
    val replicated = small.withColumn("__shard",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(replicated, Seq(key, "__shard")).drop("__shard")
  }

  /** Interval (range) join: pairs of rows sharing `keys` whose
    * timestamps lie within `toleranceMs` of each other. Implemented as
    * a BUCKETIZED equi-join: floor each side's time into
    * tolerance-sized buckets, replicate the right side into its
    * neighbor buckets, equi-join on (keys, bucket), then apply the
    * exact |Δt| predicate. Catalyst gets a hash-joinable key instead of
    * a theta condition — a plain time-range theta join degenerates to a
    * broadcast nested loop (O(|L|·|R|) comparisons); this form touches
    * only same-and-adjacent buckets. Each (left, right) pair meets at
    * exactly one bucket, so no dedup is needed.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String, toleranceMs: Long): DataFrame = {
    require(leftTime != rightTime,
      "rename the time columns apart before an interval join — the joined frame carries both")
    val lms = unix_millis(col(leftTime))
    val rms = unix_millis(col(rightTime))
    val lb = left.withColumn("__b", floor(lms / toleranceMs))
    val rb0 = right.withColumn("__rb", floor(rms / toleranceMs))
    val rb = rb0.withColumn("__b",
      explode(array(col("__rb") - 1, col("__rb"), col("__rb") + 1))).drop("__rb")
    lb.join(rb, keys :+ "__b")
      .where(abs(lms - rms) <= toleranceMs)
      .drop("__b")
  }

  /** As-of join: for every left row, the LATEST right row of the same
    * `key` with `rightTime` ≤ `leftTime` (ties broken by the payload
    * struct order — put a unique tiebreaker first in `rightCols`).
    *
    * Implemented with the union+window formulation, not a range join:
    * tag both sides, sort each key's timeline once, and carry the last
    * non-null right payload forward. ONE shuffle + sort, zero fan-out —
    * a join on `key AND rightTime <= leftTime` explodes to
    * |left|·|right| per key before filtering, which is the difference
    * between linear and quadratic at 100 TB.
    *
    * Returns the left columns plus a struct column `asof` (null when the
    * key has no prior right row — filter `asof IS NOT NULL` for inner
    * semantics).
    */
  /** Character n-grams of `lower(c)`, distinct. Strings shorter than
    * `n` contribute themselves as their only gram. */
  def charGrams(c: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => lower(c).substr(i, lit(n))))

  /** N-gram Jaccard SIMILARITY JOIN — the scalable "proper similarity
    * matching" counterpart of the reference's exact name-equality join
    * (J2, `dags/icpe-siretisation.py:243-246`; SURVEY §2.11).
    *
    * Shape (the part that must survive 100 TB): explode each side to an
    * inverted index of (gram → id), DROP grams whose global frequency
    * exceeds `gramCap` (ubiquitous grams pair everything — the same
    * skew guard as the LSH bucket cap; similarity is then over the
    * surviving RARE grams, which is what discriminates anyway), join on
    * gram, and count shared grams per candidate pair in one map-side
    * combined aggregation. No cross join anywhere; candidate volume is
    * bounded by gramCap · |grams|.
    *
    * Returns (leftId, rightId, jaccard) with jaccard = |shared| /
    * (|L| + |R| - |shared|) over capped-gram sets, filtered to
    * `minJaccard`.
    */
  def similarityJoin(left: DataFrame, leftId: String, leftText: String,
                     right: DataFrame, rightId: String, rightText: String,
                     minJaccard: Double, gramN: Int = 3,
                     gramCap: Long = 1000): DataFrame = {
    val lg = left.select(col(leftId).as("l_id"),
      explode(charGrams(col(leftText), gramN)).as("gram"))
    val rg = right.select(col(rightId).as("r_id"),
      explode(charGrams(col(rightText), gramN)).as("gram"))
    // global gram frequency across BOTH sides; same shuffle key as the
    // candidate join itself
    val rare = lg.select("gram").unionAll(rg.select("gram"))
      .groupBy("gram").count().where(col("count") <= gramCap).select("gram")
    // each capped side feeds TWO consumers (its size aggregate and the
    // candidate join) — persist, or the explode+frequency subtree
    // executes twice per side; unpersist falls to the ContextCleaner
    // once the returned plan is garbage-collected
    val lr = lg.join(rare, Seq("gram")).persistT
    val rr = rg.join(rare, Seq("gram")).persistT
    val lSize = lr.groupBy("l_id").agg(count(lit(1)).as("n_l"))
    val rSize = rr.groupBy("r_id").agg(count(lit(1)).as("n_r"))
    lr.join(rr, Seq("gram"))
      .groupBy("l_id", "r_id")
      .agg(count(lit(1)).as("shared"))
      .join(lSize, Seq("l_id"))
      .join(rSize, Seq("r_id"))
      .select(col("l_id"), col("r_id"),
        (col("shared") / (col("n_l") + col("n_r") - col("shared"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** CDC MERGE/upsert: apply a changelog of upserts and deletes to a
    * base snapshot, highest `versionCol` per key wins. Base rows rank
    * as version 0 ('U'); a change row carries the base's columns plus
    * (`opCol` ∈ {'U','D'}, `versionCol` > 0); keys whose winning row is
    * a 'D' drop out of the result.
    *
    * Shape at 100 TB: ONE hash aggregate on the key carrying the whole
    * row as `max(struct(version, op, payload…))` — map-side combinable
    * partial aggregation, a single shuffle, no window sort. With many
    * change batches the same fold applies incrementally (merge batch N
    * into the running snapshot), which is how a streaming upsert sink
    * would maintain it — PROVIDED batches are version-monotone (every
    * version in batch N+1 exceeds those already applied): merging
    * resets the snapshot to version 0, so an out-of-order older change
    * arriving in a later batch would wrongly beat it. For unordered
    * batches, re-merge their union against the original base
    * (PropertySpec pins the monotone-fold equivalence). Ties on
    * (key, version) resolve by the deterministic lexicographic struct
    * order (op, then payload) — supply unique versions for a
    * uniquely-defined result.
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, key: String,
                  versionCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == key).toSeq
    val b = base.select(col(key) +: (lit(0L).as("__v") +: lit("U").as("__op") +:
      payload.map(col)): _*)
    val c = changes.select(col(key) +: (col(versionCol).cast("long").as("__v") +:
      col(opCol).as("__op") +: payload.map(col)): _*)
    b.unionByName(c)
      .groupBy(col(key))
      .agg(max(struct(col("__v") +: col("__op") +: payload.map(col): _*)).as("m"))
      .where(col("m.__op") =!= "D")
      .select(col(key) +: payload.map(p => col(s"m.$p").as(p)): _*)
  }

  def asofJoinLatest(left: DataFrame, right: DataFrame, key: String,
                     leftTime: String, rightTime: String,
                     rightCols: Seq[String]): DataFrame = {
    val l = left.select(col(key).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"), struct(left.columns.map(col): _*).as("__lp"),
      lit(null).as("__rp"))
    val r = right.select(col(key).as("__k"), col(rightTime).as("__t"),
      lit(0).as("__side"),
      lit(null).cast(l.schema("__lp").dataType).as("__lp"),
      struct(rightCols.map(col): _*).as("__rp"))
    val lTyped = left.select(col(key).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"), struct(left.columns.map(col): _*).as("__lp"),
      lit(null).cast(r.schema("__rp").dataType).as("__rp"))
    // rights sort before lefts at equal time (__side 0 < 1) so an exact
    // tie counts as "at or before"; equal-time rights order by payload,
    // making `last` the payload max — deterministic.
    val w = Window.partitionBy("__k")
      .orderBy(col("__t"), col("__side"), col("__rp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(lTyped)
      .withColumn("asof", last(col("__rp"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(col("__lp.*"), col("asof"))
  }

  /** Incremental aggregate-state merge — the materialized-view-refresh
    * primitive: a standing per-key state table of ADDITIVE aggregates
    * (sums/counts via "sum", extrema via "min"/"max"; averages derive
    * as sum/count) absorbs a new batch's partial state with one
    * union + re-aggregate. Correctness rests on the combiners being
    * commutative monoids, so `merge(agg(A), agg(B)) == agg(A ∪ B)`
    * for ANY batch split — the spec pins that equivalence and q105's
    * oracle recomputes from scratch.
    *
    * Shape at 100 TB: the daily refresh costs one map-side-combined
    * aggregate over (|state| + |batch|) rows instead of a full-history
    * recompute; the shuffle key is the state key, so a bucketed state
    * table makes the refresh exchange-free on its side (the
    * SignatureIndex discipline). NOT for non-decomposable aggregates
    * (exact distinct counts, medians) — keep HLL/CPC sketch columns
    * for those (q55's merge discipline) and combine with "sum"-like
    * sketch merges instead. */
  def mergeAggState(state: DataFrame, delta: DataFrame, keys: Seq[String],
                    measures: Seq[(String, String)]): DataFrame = {
    require(measures.nonEmpty, "need at least one measure")
    val aggs = measures.map {
      case (c, "sum") => sum(col(c)).as(c)
      case (c, "min") => min(col(c)).as(c)
      case (c, "max") => max(col(c)).as(c)
      // distinct-count state: the column holds an HLL sketch binary
      // (built with hll_sketch_agg in the `partial`); union IS its
      // monoid combine, estimate at read time with hll_sketch_estimate
      case (c, "hll") => hll_union_agg(col(c)).as(c)
      case (c, how) => throw new IllegalArgumentException(
        s"measure $c: '$how' is not a mergeable combiner (sum|min|max|hll)")
    }
    state.unionByName(delta)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Slowly-changing-dimension type-2 history from a change log: one
    * versioned row per VALUE CHANGE of `attrs` per key, with
    * `valid_from` / `valid_to` interval bounds (half-open: a row is
    * effective at `valid_from` and superseded at `valid_to`;
    * `valid_to IS NULL` = current) and a per-key `version` counter.
    * Consecutive log entries carrying unchanged attrs collapse into
    * the earlier row — the dedup that keeps a churn-heavy CDC feed
    * from exploding the dimension.
    *
    * `tieBreak` must complete (`ts` :+ tieBreak) to a total order per
    * key (the pandas-order caveat at the top of this file): with equal
    * timestamps and no tiebreak, which entry "wins" an interval
    * boundary would be partition-order dependent.
    *
    * Scale shape: ONE shuffle on `key`; both windows (change-collapse
    * lag, interval lead + version) declare the same partitioning and
    * ordering, so Catalyst plans a single Exchange + single Sort and
    * the second Window runs in place. The change log never joins
    * anything — history for billions of keys is embarrassingly
    * key-parallel. The honest skew caveat: ONE key's entire log sorts
    * in one task (windows admit no salting — the interval chain needs
    * the key's total order), so a single entity with ~10⁸ changes is
    * a long-pole task; shard such a log by time range first and stitch
    * the boundary rows (the [[graft.text.Packing]] two-pass shape), or
    * collapse no-ops upstream at ingest. [[graft.ops.Diagnostics]]'
    * skewReport is the detector. */
  /** Ordered event funnel: per entity, the first occurrence of step 1,
    * then the first occurrence of step 2 AT-OR-AFTER it, and so on —
    * the ORDER-sensitive sequence measure an unconditional per-step
    * min cannot express (a purchase before any view must not count).
    * Output: one row per entity having at least one step event, with
    * `t_<step>` (order key of the first qualifying occurrence, null
    * once the chain breaks) and `step_reached` (0..n).
    *
    * Scale shape: ONE shuffle keyed by the entity; the per-entity
    * event list is collected once — only rows whose type is a funnel
    * step survive the scan filter, so the array is bounded by the
    * entity's STEP events, not its full stream — and each step is an
    * array filter+min over it: no self-joins, no windows, and the
    * chained mins are purely numeric, so the result is independent of
    * collection order. Ties at the same order-key value satisfy `>=`
    * (simultaneous view+click counts as a progression on both engines
    * at the chosen granularity). */
  def funnelSteps(events: DataFrame, entity: Column, orderKey: Column,
                  stepType: Column, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps, s"bad steps: $steps")
    def firstAtOrAfter(evs: Column, typ: String, lower: Option[Column]): Column =
      array_min(transform(
        filter(evs, ev => lower.foldLeft(ev.getField("typ") === typ) {
          (cond, lo) => cond && ev.getField("k") >= lo
        }),
        ev => ev.getField("k")))
    val base = events
      .where(stepType.isin(steps.map(x => x: Any): _*))
      .select(entity.as("entity"), orderKey.as("k"), stepType.as("typ"))
      .groupBy("entity")
      .agg(collect_list(struct(col("k"), col("typ"))).as("__evs"))
    val withSteps = steps.zipWithIndex.foldLeft(base) { case (df, (st, i)) =>
      df.withColumn(s"t_$st", firstAtOrAfter(col("__evs"), st,
        if (i == 0) None else Some(col(s"t_${steps(i - 1)}"))))
    }
    // fold in step order so the LAST step's test lands outermost:
    // when(t_last, n).otherwise(when(t_prev, n-1).otherwise(…))
    val reached = steps.zipWithIndex
      .foldLeft(lit(0)) { case (acc, (st, i)) =>
        when(col(s"t_$st").isNotNull, i + 1).otherwise(acc)
      }
    withSteps.drop("__evs").withColumn("step_reached", reached)
  }

  def scd2(changes: DataFrame, key: Seq[String], ts: String,
           attrs: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(ts) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(key.map(col): _*).orderBy(ord: _*)
    val attrStruct = struct(attrs.map(col): _*)
    val collapsed = changes
      .withColumn("__prev", lag(attrStruct, 1).over(w))
      .where(col("__prev").isNull || col("__prev") =!= attrStruct)
      .drop("__prev")
    collapsed
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("version", row_number().over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((key.map(col) ++ Seq(col("version")) ++ attrs.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))): _*)
  }

  /** Snapshot diff for dataset versioning: classify every key across
    * two corpus versions as added / removed / modified / unchanged by
    * comparing a content FINGERPRINT (not the content) under a full
    * outer join on the key.
    *
    * Scale shape: each side reduces to (key, 8-byte fingerprint)
    * before anything wide happens — the join moves two narrow
    * key-hash frames through one key-partitioned exchange, never the
    * documents; a 100 TB-vs-100 TB diff is two scans plus one bounded
    * shuffle. Downstream per-status rollups combine map-side.
    *
    * @param v1 old snapshot — (key, fingerprint) after projection
    * @param v2 new snapshot — same schema
    * @param key join key column name present in both
    * @param fp  fingerprint column name present in both (md5-60 of the
    *            content via [[graft.text.Hashing.h60]] is the
    *            engine-standard choice — oracle-reproducible)
    * @return (key, status) with status ∈ added|removed|modified|unchanged
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, key: String, fp: String): DataFrame = {
    val a = v1.select(col(key), col(fp).as("__fp1"))
    val b = v2.select(col(key), col(fp).as("__fp2"))
    a.join(b, Seq(key), "full_outer")
      .select(col(key),
        when(col("__fp1").isNull, "added")
          .when(col("__fp2").isNull, "removed")
          .when(col("__fp1") === col("__fp2"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Statically-bounded broadcast registry with a LOUD overflow
    * (ADVICE/VERDICT r9): the drift-family grids (q215 Kendall pairs,
    * q226 EMD source×value) broadcast a "bounded axis" (sources,
    * feeds) whose bound is made STATIC with a plan-level `limit(cap)`
    * so planLint's bounded-build proof applies. A bare `limit`,
    * though, would silently truncate a registry that outgrew the cap
    * — an arbitrary, plan-dependent subset of sources would simply
    * vanish from the report. This guard probes `cap + 1` rows (the
    * bruteForceTopK discipline: O(cap) work via CollectLimit
    * short-circuit, regardless of input size) and THROWS on overflow;
    * the caller then shards the axis or raises the cap deliberately.
    */
  def boundedRegistry(df: DataFrame, cap: Int, what: String): DataFrame = {
    val n = df.limit(cap + 1).count()
    require(n <= cap,
      s"$what holds more than $cap rows: the broadcast registry would be " +
        "silently truncated — shard the axis or raise the cap explicitly")
    df.limit(cap)
  }

  /** B-bucket equi-width histogram join-cardinality estimate
    * `Σ_b ab_b·bb_b div width` as a ONE-ROW frame, entirely in-plan —
    * the CBO arithmetic shared by the advisor family (q269, q285,
    * q304, q307). Inputs are weighted key frames (k, ac) / (k, bc);
    * the key range is attached as a broadcast 1-row frame instead of
    * the former driver `collect()` probe, so an advisor that needed
    * 2-3 blocking jobs per leg becomes one action end to end (the
    * q181 broadcast-scalar discipline; VERDICT r16 #5).
    *
    * Empty `a` leaves lo/hi NULL → `between` drops every row → the
    * sum aggregates over nothing and yields NULL; callers keep their
    * own NULL algebra (q269/q304 propagate, q285/q307 coalesce to 0 —
    * exactly what their oracles do). */
  def histJoinCardEst(a: DataFrame, b: DataFrame, buckets: Long,
                      out: String = "est"): DataFrame = {
    val rng = broadcast(a.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .select(col("lo"), col("hi"),
        expr(s"(hi - lo + $buckets) div $buckets").as("w")))
    def hist(df: DataFrame, cnt: String, as: String) = df.crossJoin(rng)
      .where(col("k").between(col("lo"), col("hi")))
      .groupBy(expr("(k - lo) div w").as("bucket"), col("w"))
      .agg(sum(col(cnt)).cast(org.apache.spark.sql.types.LongType).as(as))
    hist(a, "ac", "ab").join(hist(b, "bc", "bb").drop("w"), Seq("bucket"))
      .agg(sum(expr("ab * bb div w"))
        .cast(org.apache.spark.sql.types.LongType).as(out))
  }

  /** Exact 1-based global row number under a TOTAL order, without the
    * single-partition cliff: `row_number().over(Window.orderBy(...))`
    * funnels the whole dataset through one task, which at corpus scale
    * is the canonical OOM. This is the distributed formulation
    * ([[graft.text.Packing.tokenShards]]' discipline generalized to
    * any ordering): range-partition + local sort, ONE P-long count
    * round to the driver, then each partition streams its rows adding
    * its exclusive prefix offset. Two narrow passes over a sorted
    * cached frame; every partition works in parallel.
    *
    * `order` must be a total order (tie-break to a unique column) or
    * the assignment is arbitrary among ties — same contract as the
    * window formulation.
    *
    * The sorted frame is persisted because both passes consume it;
    * unpersist falls to the ContextCleaner (lazy plan), as in
    * tokenShards.
    *
    * Driver-gated twin (r17, the Graph.scala gate discipline): when the
    * caller KNOWS the exact row count (it is usually already an action
    * in these query shapes — q260 needs nc for the quintile formula)
    * and it is at most `spark.graft.rownum.driverMaxRows` (default
    * 262144; 0 disables), the whole rank rides ONE
    * TakeOrderedAndProject job — per-partition heaps, no range-sampling
    * job, no exchange, no second pass — and rn is attached by position
    * on the driver. The ORDERING is still computed by Spark's own sort
    * (orderBy + limit), so the assignment is identical to the
    * distributed path under the same total-order contract; ranking a
    * billion-row frame never trips the gate and takes the
    * range-partitioned path unchanged. `knownRows` must be the exact
    * count (an understatement would truncate; RelationalOpsSpec pins
    * gated ≡ distributed on both sides). */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
                      outCol: String = "rn", partitions: Int = 0,
                      knownRows: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    val cap = spark.conf.getOption("spark.graft.rownum.driverMaxRows")
      .map(_.toLong).getOrElse(262144L)
    if (knownRows >= 0L && cap > 0L && knownRows <= cap) {
      val rows = df.orderBy(order: _*).limit(math.max(knownRows, 1L).toInt).collect()
      val schema = org.apache.spark.sql.types.StructType(
        df.schema.fields :+
          org.apache.spark.sql.types.StructField(outCol,
            org.apache.spark.sql.types.LongType, nullable = false))
      val out = rows.iterator.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      }.toSeq
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1), schema)
    }
    val nParts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(nParts, order: _*)
      .sortWithinPartitions(order: _*)
      .persistT
    val counts = sorted.rdd
      .mapPartitionsWithIndex { case (pid, it) => Iterator((pid, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(outCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val out = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var rn = offsets(pid)
      it.map { r => rn += 1; org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rn) }
    }
    spark.createDataFrame(out, schema)
  }

  /** Shared skeleton of the distributed prefix-scan family
    * ([[globalRunningSum]] / [[globalRunningMax]]): range-partition +
    * local sort, ONE P-long partial round to the driver, exclusive
    * combine of the partials, then each partition streams its rows
    * folding from its offset — the `globalRowNumber` mechanics
    * generalized from COUNT to any associative Long fold. Replaces
    * `agg(...).over(Window.orderBy(...))`, whose empty PARTITION BY
    * funnels the whole frame through one task. */
  private def globalRunningLong(df: DataFrame, order: Seq[Column],
                                valueCol: String, outCol: String,
                                inclusive: Boolean, isMax: Boolean,
                                partitions: Int): DataFrame = {
    val spark = df.sparkSession
    val nParts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(nParts, order: _*)
      .sortWithinPartitions(order: _*)
      .persistT
    val idx = sorted.schema.fieldIndex(valueCol)
    def merge(a: Option[Long], v: Long): Option[Long] =
      Some(a.fold(v)(x => if (isMax) math.max(x, v) else x + v))
    val partials = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var acc: Option[Long] = None
      it.foreach(r => if (!r.isNullAt(idx)) acc = merge(acc, r.getLong(idx)))
      Iterator((pid, acc))
    }.collect().sortBy(_._1).map(_._2)
    // offsets(p) = fold of partitions 0..p-1 — the exclusive carry-in
    val offsets = partials.scanLeft(Option.empty[Long]) { (acc, p) =>
      p.fold(acc)(v => merge(acc, v))
    }.dropRight(1)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(outCol,
          org.apache.spark.sql.types.LongType, nullable = true))
    val out = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var acc = offsets(pid)
      it.map { r =>
        val v = if (r.isNullAt(idx)) None else Some(r.getLong(idx))
        val result =
          if (inclusive) { v.foreach(x => acc = merge(acc, x)); acc }
          else { val before = acc; v.foreach(x => acc = merge(acc, x)); before }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ result.map(Long.box).orNull)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Distributed running SUM of `valueCol` (Long) under a total
    * `order` — `sum(v).over(Window.orderBy(...).rowsBetween(
    * unboundedPreceding, currentRow))` without the single-partition
    * cliff. `inclusive = false` gives the `(…, -1)` exclusive frame
    * (null for the first row, like the window). Ties in `order` get
    * an arbitrary relative order, same contract as the ROWS-frame
    * window — pass a total order when per-row values must be stable. */
  def globalRunningSum(df: DataFrame, order: Seq[Column], valueCol: String,
                       outCol: String, inclusive: Boolean = true,
                       partitions: Int = 0): DataFrame =
    globalRunningLong(df, order, valueCol, outCol, inclusive, isMax = false,
      partitions = partitions)

  /** Distributed running MAX — see [[globalRunningSum]]. */
  def globalRunningMax(df: DataFrame, order: Seq[Column], valueCol: String,
                       outCol: String, inclusive: Boolean = true,
                       partitions: Int = 0): DataFrame =
    globalRunningLong(df, order, valueCol, outCol, inclusive, isMax = true,
      partitions = partitions)

  /** Distributed `lead(valueCol, 1).over(Window.orderBy(order))`: each
    * partition's rows take the NEXT row's value; the last row of every
    * partition takes the first value of the next non-empty partition
    * (one P-long head round to the driver). Null for the global last
    * row, like the window. Value type is preserved as-is. */
  def globalLead1(df: DataFrame, order: Seq[Column], valueCol: String,
                  outCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val nParts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(nParts, order: _*)
      .sortWithinPartitions(order: _*)
      .persistT
    val idx = sorted.schema.fieldIndex(valueCol)
    // Some(firstValue) for a non-empty partition — where firstValue may
    // itself be null — None for an empty one. Collapsing the two into
    // one Option (ADVICE r10) made a null-headed partition look empty,
    // so its predecessor's last row skipped ahead to a LATER partition's
    // head instead of taking the null, diverging from lead().
    val heads: Array[Option[Any]] = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      val h: Option[Any] = if (it.hasNext) Some(it.next().get(idx)) else None
      Iterator((pid, h))
    }.collect().sortBy(_._1).map(_._2)
    // nextHead(p) = first value of the next NON-EMPTY partition (that
    // value being null is a valid lead); null when no such partition
    val nextHead: Array[Any] = Array.tabulate(heads.length) { p =>
      heads.drop(p + 1).collectFirst { case Some(v) => v }.orNull
    }
    val field = sorted.schema.fields(idx)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(outCol, field.dataType, nullable = true))
    val out = sorted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      // NB: named `buf`, not `buffered` — inside the anonymous
      // Iterator the INHERITED `Iterator.buffered` method would shadow
      // an outer local of that name and recurse infinitely
      val buf = it.buffered
      new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = buf.hasNext
        def next(): org.apache.spark.sql.Row = {
          val r = buf.next()
          val nxt: Any =
            if (buf.hasNext) buf.head.get(idx)
            else nextHead(pid)
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ nxt)
        }
      }
    }
    spark.createDataFrame(out, schema)
  }
}
