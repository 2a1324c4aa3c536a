package graft.operators

import graft.expressions.HashExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy-preserving releases over grouped corpora: k-anonymity audit /
  * suppression, and differentially-private counts via the geometric
  * mechanism — the two releases a data pipeline needs before sharing
  * per-segment statistics derived from user-grain tables.
  *
  * The DP noise is DETERMINISTIC and engine-independent: the per-group
  * uniform is splitmix64(fnv1a64(group key) XOR splitmix64(seed)) — the
  * repo's replay-exact hash family — and the two-sided geometric
  * inverse-CDF is evaluated against a precomputed table of exact integer
  * thresholds `floor(2^64 · F(x))`, so no transcendental function ever
  * enters the sampling path and the release replays bit-exactly in any
  * engine that can compare 64-bit integers ([[geometricThresholds]] is
  * shared with the DuckDB oracle builder). A production system would
  * swap the seed for per-release secret randomness; everything else —
  * mechanism, sensitivity, post-processing — is the real thing.
  *
  * Scale shape: both releases are one `groupBy` over the corpus; the
  * noise is a scalar expression per GROUP row (not per input row), and
  * suppression is a broadcast-joinable group-table filter.
  */
object Privacy {

  /** k-anonymity audit over quasi-identifier columns: one row per
    * equivalence class with its size and whether a k-anonymous release
    * must suppress it (`n < k`). `n_released` is the class's row count
    * in the suppressed release (0 or n) so the audit doubles as the
    * release's accounting table.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    require(qiCols.nonEmpty, "no quasi-identifier columns")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("suppressed", col("n") < k)
      .withColumn("n_released",
        when(col("suppressed"), lit(0L)).otherwise(col("n")))
  }

  /** Row-level k-anonymous release: rows whose quasi-identifier
    * equivalence class has fewer than `k` members are dropped. The class
    * table is group-grain (broadcast-sized for realistic QI arity), so
    * the release is a broadcast semi-join, not a corpus shuffle.
    */
  def suppressSmallGroups(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    val keep = kAnonymityAudit(df, qiCols, k)
      .filter(!col("suppressed")).select(qiCols.map(col): _*)
    df.join(broadcast(keep), qiCols, "left_semi")
  }

  /** k-anonymity via one-level LOCAL GENERALIZATION — the standard
    * hierarchy device (nation → region, zip → zip3, day → month):
    * equivalence classes of `(qiCol, otherQi*)` already ≥ k release at
    * the child level; smaller classes re-key `qiCol` to its parent in
    * `hierarchy` (a `(child, parent)` table, broadcast — hierarchies
    * are dimension-sized) and merge; merged classes still below k are
    * suppressed. Small classes whose child key has NO parent mapping
    * cannot generalize and suppress directly — the hierarchy join is a
    * LEFT join precisely so no class can silently vanish from the
    * accounting (every input row lands in exactly one release bucket).
    * Returns the release accounting table:
    * `(level, qi, otherQi*, n)` with level ∈ child|parent|suppressed —
    * `qi` is the string form of the released key ('*' when
    * suppressed). Generalizing only the small classes (not the whole
    * column) is what keeps utility: large classes keep full precision.
    */
  def generalizeToK(df: DataFrame, qiCol: String, otherQi: Seq[String],
      hierarchy: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    val grp = (qiCol +: otherQi).map(col)
    val cls = df.groupBy(grp: _*).agg(count(lit(1)).as("n"))
    def shaped(src: DataFrame, level: String, qi: Column) =
      src.select(Seq(lit(level).as("level"), qi.cast("string").as("qi")) ++
        otherQi.map(col) :+ col("n"): _*)
    val fine = shaped(cls.filter(col("n") >= k), "child", col(qiCol))
    val small = cls.filter(col("n") < k)
      .join(broadcast(hierarchy), col(qiCol) === col("child"), "left")
    val coarse = small.filter(col("parent").isNotNull)
      .groupBy(col("parent") +: otherQi.map(col): _*)
      .agg(sum(col("n")).as("n"))
    val parentOk = shaped(coarse.filter(col("n") >= k), "parent",
      col("parent"))
    // still-small merged classes AND unmapped children suppress — the
    // audit-completeness contract: released + suppressed = input mass
    val suppressed = shaped(
      coarse.filter(col("n") < k)
        .select(otherQi.map(col) :+ col("n"): _*)
        .unionByName(small.filter(col("parent").isNull)
          .select(otherQi.map(col) :+ col("n"): _*))
        .groupBy(otherQi.map(col): _*)
        .agg(sum(col("n")).as("n")),
      "suppressed", lit("*"))
    fine.unionByName(parentOk).unionByName(suppressed)
  }

  /** Right-to-be-forgotten erasure: drop every row whose `unitCol` is
    * in `tombstones` (one column of unit ids). The erase itself is an
    * anti-join; at corpus scale pre-prune with the bloom device
    * ([[SkewJoins.bloomPrunedSemiJoin]]'s bitmap) when the tombstone
    * list outgrows a broadcast. Use [[erasureAudit]] for the
    * accounting a DPO actually files.
    */
  def eraseUnits(df: DataFrame, unitCol: String,
      tombstones: DataFrame): DataFrame = {
    val ts = tombstones.toDF(unitCol).distinct()
    df.join(ts, Seq(unitCol), "left_anti")
  }

  /** Erasure accounting per group: rows before/removed/after and the
    * distinct units erased — `removed + after == before` by
    * construction (one conditional aggregation, no second corpus
    * pass; the erased frame itself comes from [[eraseUnits]]).
    */
  def erasureAudit(df: DataFrame, unitCol: String, tombstones: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val ts = broadcast(tombstones.toDF(unitCol).distinct()
      .withColumn("__dead", lit(true)))
    df.join(ts, Seq(unitCol), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("rows_before"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("rows_removed"),
        sum(when(col("__dead"), 0L).otherwise(1L)).as("rows_after"),
        countDistinct(when(col("__dead"), col(unitCol)))
          .as("units_erased"))
  }

  /** Exact integer thresholds for the two-sided geometric (discrete
    * Laplace, α = 1/2 ⇒ ε = ln 2 per unit sensitivity) inverse CDF:
    * entry `j` (for x = j − cap, j in 0 until 2·cap) is
    * `floor(2^64 · F(x))` with `F(x) = 2^(x+1)/3` for x < 0 and
    * `F(x) = 1 − 2^(−x)/3` for x ≥ 0; a uniform u64 maps to the first x
    * with u < T(x), else `cap`. Tail mass beyond ±cap (≤ 2^−cap/3 per
    * side) clamps into the endpoints — harmless post-processing. Shared
    * by the Spark expression and the DuckDB oracle so both engines walk
    * the IDENTICAL integer table.
    */
  def geometricThresholds(cap: Int): IndexedSeq[BigInt] =
    geometricThresholds(cap, 1, 2)

  /** The general table for rational α = num/den < 1 (ε = Δ·ln(den/num)
    * at sensitivity Δ): two-sided geometric CDF `F(x) = α^(−x)/(1+α)`
    * for x < 0 and `1 − α^(x+1)/(1+α)` for x ≥ 0, floored onto the
    * 2^64 grid with EXACT BigInt rational arithmetic (α^m = num^m/den^m
    * — no float touches the table, any α). `cap` clamps the tails;
    * size it so α^cap/(1+α) is negligible at the chosen α.
    */
  def geometricThresholds(cap: Int, num: Long, den: Long): IndexedSeq[BigInt] = {
    require(cap >= 1 && cap <= 200, s"bad cap $cap")
    require(num >= 1 && den > num, s"alpha must be in (0,1): $num/$den")
    val full = BigInt(2).pow(64)
    val n = BigInt(num); val d = BigInt(den)
    (-cap until cap).map { x =>
      if (x < 0) {
        // F(x) = n^(−x) / (d^(−x−1) · (d + n))  [α^(−x)/(1+α) reduced]
        val m = -x
        full * n.pow(m) / (d.pow(m - 1) * (d + n))
      } else {
        // 1 − α^(x+1)/(1+α) = 1 − n^(x+1)/(d^x · (d + n))
        val m = x + 1
        full - (full * n.pow(m) + d.pow(m - 1) * (d + n) - 1) /
          (d.pow(m - 1) * (d + n))
      }
    }
  }

  /** The inverse-CDF walk as a Column: `u` holds the uniform's 64-bit
    * pattern in a signed long; comparisons shift both sides by 2^63
    * (XOR with Long.MinValue) so signed order equals unsigned order.
    * The table is strictly increasing, so "the first x with u < T(x),
    * else cap" is the count of thresholds ≤ u, minus cap: one lookup
    * over ONE array literal, whose generated code stays small at any
    * cap (a 2·cap-branch `when` chain outgrows the 64 KB method limit
    * at cap 60, and Spark then runs the stage interpreted).
    */
  private[graft] def geometricNoise(u: Column,
      table: IndexedSeq[BigInt]): Column = {
    val cap = table.size / 2
    val shifted = u.bitwiseXOR(lit(Long.MinValue))
    val ts = typedLit(table.map(t => t.longValue ^ Long.MinValue).toArray)
    (size(filter(ts, t => t <= shifted)) - cap).cast("long")
  }

  /** ε = ln 2 differentially-private group counts (geometric mechanism,
    * sensitivity 1 for add/remove-one-row neighbors): per group,
    * `n_noisy = max(0, n + noise)` with noise from [[geometricNoise]]
    * seeded by the group key. `noise` and `n` ride along for the audit
    * (they are deterministic functions of the release seed here; a real
    * release would emit `n_noisy` alone).
    */
  /** Injective group-key encoding for the noise seed: every field
    * length-prefixed (`len:value`, null as `n:`), so two DISTINCT
    * groups can never produce the same key — a delimiter join
    * (`'a|b'` vs `('a','b')`) would give them identical noise,
    * correlating the DP release across groups.
    */
  private def injectiveKey(groupCols: Seq[String]) =
    concat(groupCols.map { g =>
      val s = col(g).cast("string")
      when(s.isNull, lit("n:"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }: _*)

  def noisyCounts(df: DataFrame, groupCols: Seq[String], seed: Long,
      cap: Int = 20): DataFrame = {
    require(groupCols.nonEmpty, "no group columns")
    val seedMix = graft.functions.DedupFunctions.splitmix64(seed)
    val key = injectiveKey(groupCols)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("noise", geometricNoise(
        HashExpressions.splitmix64(
          HashExpressions.fnv1a64(key).bitwiseXOR(lit(seedMix))),
        geometricThresholds(cap)))
      .withColumn("n_noisy", greatest(lit(0L), col("n") + col("noise")))
  }

  /** USER-LEVEL ε-DP noisy sums — the release real aggregation
    * dashboards need: each unit's (user's) total contribution to its
    * group quantizes to the integer grid and CLIPS to `[0, clip]`
    * (so adding or removing one whole unit moves the group sum by at
    * most `clip` — the sensitivity), then the clipped group sum gets
    * two-sided geometric noise at rational α = alphaNum/alphaDen,
    * giving ε = clip · ln(alphaDen/alphaNum). Same replay-exact
    * machinery as [[noisyCounts]] — the general threshold table, the
    * group-keyed uniform — so the release gates bit-exactly. Clip and
    * α trade bias for privacy exactly as in production DP systems;
    * `sum_clipped` rides along as the audit column.
    */
  def noisySums(df: DataFrame, groupCols: Seq[String], unitCol: String,
      valueCol: String, clip: Long, seed: Long, alphaNum: Long = 3,
      alphaDen: Long = 4, cap: Int = 60): DataFrame = {
    require(clip >= 1, s"bad clip $clip")
    val seedMix = graft.functions.DedupFunctions.splitmix64(seed)
    val key = injectiveKey(groupCols)
    val perUnit = df.groupBy((groupCols :+ unitCol).map(col): _*)
      .agg(least(lit(clip), greatest(lit(0L),
        floor(sum(col(valueCol).cast("double"))).cast("long")))
        .as("__c"))
    perUnit.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_units"), sum(col("__c")).as("sum_clipped"))
      .withColumn("noise", geometricNoise(
        HashExpressions.splitmix64(
          HashExpressions.fnv1a64(key).bitwiseXOR(lit(seedMix))),
        geometricThresholds(cap, alphaNum, alphaDen)))
      .withColumn("sum_noisy",
        greatest(lit(0L), col("sum_clipped") + col("noise")))
  }
}
