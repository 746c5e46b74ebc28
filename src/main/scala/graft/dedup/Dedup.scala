package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.hash60
import graft.text.TextOps

/** How an iterative operator materializes each sweep's result table.
  * Every sweep's logical plan references the previous sweep's TWICE
  * (propagation join + identity union), so the plan tree doubles per
  * sweep unless lineage is truncated — caching alone does not help
  * (it short-circuits physical recomputation, not logical plan
  * growth). The truncation medium is the fault-tolerance decision:
  *
  *  - [[SweepCheckpoint.Local]]: `localCheckpoint()` — executor-
  *    memory-backed, fastest, NON-fault-tolerant: on a real cluster a
  *    lost executor kills the job mid-loop because the truncated
  *    lineage leaves nothing to recompute from. The right default for
  *    single-box / local[] runs only.
  *  - [[SweepCheckpoint.Reliable]]: `checkpoint()` into a checkpoint
  *    directory (HDFS/object store on a cluster) — a lost executor
  *    re-reads the sweep table; this is the cluster-scale default.
  *    The checkpoint dir is CONTEXT-GLOBAL in Spark: if the session
  *    already has one set, it takes precedence and `dir` is only used
  *    when none exists (a warning is logged when this operator sets
  *    it, because later `checkpoint()` calls anywhere in the session
  *    inherit it) — callers who need a specific durable location
  *    must own `sc.setCheckpointDir` themselves (use
  *    [[SweepCheckpoint.Table]] for a per-invocation directory).
  *    Checkpoint files belong to the SparkContext and are only
  *    reclaimed by the ContextCleaner when
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` (OFF by
  *    default) — without it every sweep's checkpoint data accretes on
  *    disk for the session lifetime; a warning is logged per
  *    invocation when the conf is off.
  *  - [[SweepCheckpoint.Table]]: explicit parquet round-trip — same
  *    durability as Reliable with a plain-table artifact a downstream
  *    job (or a resume-after-driver-crash) can pick up mid-chain; each
  *    sweep's table is deleted once the next one is written. On
  *    [[ConvergenceException]] the LAST completed sweep table is kept
  *    as a resume artifact — restart with
  *    `connectedComponents(resumeFrom = Some(dir))` to continue the
  *    propagation from it instead of from sweep 0.
  */
sealed trait SweepCheckpoint
object SweepCheckpoint {
  case object Local extends SweepCheckpoint
  final case class Reliable(dir: String) extends SweepCheckpoint
  final case class Table(dir: String) extends SweepCheckpoint
}

/** Named non-convergence failure for iterative graph operators: the
  * component diameter exceeded the sweep budget. Carries the budget so
  * callers can retry with a bigger one instead of pattern-matching a
  * require() message. Under [[SweepCheckpoint.Table]], `resumeDir` is
  * the directory whose last completed sweep table was kept — pass it
  * back as `connectedComponents(resumeFrom = ...)` to continue from
  * the interrupted propagation with a bigger budget instead of
  * restarting from sweep 0.
  */
final class ConvergenceException(val sweeps: Int, msg: String,
    val resumeDir: Option[String] = None)
  extends RuntimeException(msg)

/** Thrown by the exact pair-report family ([[Dedup.ngramJaccardPairs]],
  * [[Dedup.containmentPairs]] and their degree forms) when the
  * pre-flight candidate-volume estimate exceeds the caller's
  * `maxCandidatePairs` bound — the clean refusal that replaces a
  * disk-full abort at viral duplicate density (SCALE_r12: the exact
  * pair GRAPH grows with the SQUARE of duplicate-family sizes, so any
  * statement that materializes candidate pairs with their shingle
  * arrays is intermediate-volume-bound by construction). The message
  * names the scale-safe statements; callers that accept the cost
  * raise the bound explicitly.
  */
final class PairVolumeException(val estimatedPairs: Long,
    val bound: Long, msg: String) extends RuntimeException(msg)

/** Corpus deduplication operators for training-data pipelines: exact
  * (hash groupBy), n-gram Jaccard (shared-shingle blocked self-join),
  * MinHash+LSH (shingle -> minhash signature -> band bucket join ->
  * exact-Jaccard verification), SimHash (bitwise-majority token hash),
  * and embedding-cosine near-dup pairs.
  *
  * Scale design (100 TB corpus): every candidate-generation step is a
  * shuffle on a *bucketing key* (hash / shingle / LSH band / block), so
  * the quadratic pair space is never materialized; only same-bucket pairs
  * ever meet, and bucket skew is bounded by the hash family. No driver
  * collects; all joins are key-partitioned or broadcast.
  */
object Dedup {

  /** Default LSH band-bucket membership cap: buckets at or under it run
    * the in-bucket pair kernel; buckets above it take the spilling
    * self-join fallback (same ownership rule in Column form).
    */
  val DefaultBucketCap: Int = 1 << 16

  /** Distinct token n-gram shingles of one text (single-space
    * tokenization, lowercased — TextOps.tokens semantics). First
    * occurrence order, like Spark's array_distinct.
    */
  def shinglesKernel(text: String, n: Int): Array[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Token 3-gram shingle set (distinct) of a text column. A compiled
    * kernel: the Catalyst transform/element_at formulation re-evaluates
    * the tokenization per lambda reference (interpreted HOFs do no
    * common-subexpression elimination), re-splitting the text hundreds
    * of times per row; the JVM loop splits once.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val k = udf((t: String) => shinglesKernel(if (t == null) "" else t, n))
    k(text)
  }

  /** Exact dedup: one survivor (min id) per distinct content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** FNV-1a 64-bit over UTF-8 bytes — the internal shingle fingerprint
    * for Jaccard work. 240k distinct shingles have a ~3e-9 birthday
    * collision probability at 64 bits; a collision would only perturb one
    * pair's intersection count by 1. The payoff: every downstream
    * shuffle/join/intersection moves 8-byte longs instead of ~17-char
    * UTF8Strings (4x lighter rows, long equality instead of string).
    */
  def fnv1a64(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** [[fnv1a64]] over a byte range — the in-place form the byte-level
    * shingle kernel folds over text slices without materializing the
    * shingle string.
    */
  private def fnv1a64Range(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Byte-level fused shingle-hash kernel (r18, guide §1.2 step 2 —
    * per-task work): `shinglesKernel(text, n).map(fnv1a64)` without
    * building a single shingle string. A token n-gram joined by ' ' is
    * a CONTIGUOUS slice of the lowercased text's UTF-8 bytes (tokens
    * are the runs between 0x20 bytes, and 0x20 never occurs inside a
    * multi-byte UTF-8 sequence), so each shingle hash is one FNV fold
    * over a byte range. The old path paid, per shingle: StringBuilder
    * append + toString (two copies), the LinkedHashSet's string hash
    * (a third pass), getBytes (a fourth, plus an allocation), then
    * FNV — this pays FNV alone, ~3n bytes touched per text position.
    *
    * Distinctness is STRING distinctness, exactly as before: the
    * open-addressed table probes on the 64-bit FNV and confirms with a
    * byte-range compare, so two DISTINCT shingles that collide in FNV
    * both emit (the legacy LinkedHashSet-then-hash behavior), while
    * duplicate shingles emit once. DedupSpec pins bit-equality against
    * the string-path kernel on adversarial and fuzz corpora.
    */
  def hashedShinglesKernel(text: String, n: Int): Array[Long] = {
    val bytes = text.toLowerCase(java.util.Locale.ROOT)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var ntoks = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') ntoks += 1; i += 1 }
    if (ntoks < n) return Array.empty
    // starts(j) = byte offset of token j; the sentinel makes shingle
    // j's slice [starts(j), starts(j+n) - 1) uniform, including the
    // last one (ends at bytes.length)
    val starts = new Array[Int](ntoks + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(ntoks) = bytes.length + 1
    val nsh = ntoks - n + 1
    // open addressing, power-of-two capacity >= 2 * nsh
    var cap = 4
    while (cap < (nsh << 1)) cap <<= 1
    val mask = cap - 1
    val slotHash = new Array[Long](cap)
    val slotIdx = new Array[Int](cap) // shingle index + 1; 0 = empty
    val out = new Array[Long](nsh)
    var nout = 0
    var j = 0
    while (j < nsh) {
      val from = starts(j)
      val until = starts(j + n) - 1
      val h = fnv1a64Range(bytes, from, until)
      var slot = (h ^ (h >>> 32)).toInt & mask
      var dup = false
      var done = false
      while (!done) {
        val s = slotIdx(slot)
        if (s == 0) done = true // empty: insert here
        else if (slotHash(slot) == h) {
          val pj = s - 1
          val pf = starts(pj)
          val pu = starts(pj + n) - 1
          if (pu - pf == until - from &&
              java.util.Arrays.equals(bytes, pf, pu, bytes, from, until)) {
            dup = true; done = true // same string: skip
          } else slot = (slot + 1) & mask // FNV collision: both distinct
        } else slot = (slot + 1) & mask
      }
      if (!dup) {
        slotHash(slot) = h
        slotIdx(slot) = j + 1
        out(nout) = h
        nout += 1
      }
      j += 1
    }
    val res = if (nout == out.length) out
      else java.util.Arrays.copyOf(out, nout)
    java.util.Arrays.sort(res)
    res
  }

  /** Distinct hashed token n-gram shingles, ASCENDING-SORTED (compiled
    * kernel — see [[shingles]] for why HOF expressions lose here).
    * Element order carries no meaning downstream (explode, counting), so
    * sorting once here lets verification run a linear merge
    * ([[org.apache.spark.sql.graft.SortedIntersectCount]]) instead of a
    * per-pair hash build. Since r18 the kernel is the byte-level fused
    * form ([[hashedShinglesKernel]]).
    */
  def hashedShingles(text: Column, n: Int = 3): Column = {
    val k = udf((t: String) =>
      hashedShinglesKernel(if (t == null) "" else t, n))
    k(text)
  }

  /** All pairs with n-gram Jaccard >= threshold. Exact, with PPJoin-style
    * prefix filtering: shingles are globally ordered by (frequency, value)
    * and only each document's prefix (the first |S| - ceil(t|S|) + 1
    * shingles) joins into candidate generation — any pair at threshold t
    * must share a prefix element, so no qualifying pair is lost, while
    * hot (frequent) shingles land at the back of the order and stop
    * driving quadratic candidate blowup.
    *
    * Refinements over the textbook shape (each removes a scale
    * bottleneck):
    *  - shingles are 64-bit hashes end to end (see [[fnv1a64]]) — the
    *    candidate join, window and verification all move longs;
    *  - the per-doc rarity rank is a window `row_number` over the
    *    exploded table (one shuffle on id) instead of
    *    join+collect_list+sort_array+re-explode (shuffle + wide rows);
    *  - PPJoin *positional* filtering inside the join: a match at prefix
    *    positions (pa, pb) bounds the overlap by
    *    1 + min(n1-pa, n2-pb), which must reach the threshold-implied
    *    minimum overlap t/(1+t)*(n1+n2). For a pair's first shared
    *    prefix element the bound is exact-from-above, so recall is
    *    unaffected; later duplicate matches may be filtered, which only
    *    helps the pre-verify dedup.
    *  - verification is a linear merge over the pre-sorted hashed
    *    arrays ([[org.apache.spark.sql.graft.SortedIntersectCount]],
    *    codegen'd) instead of array_intersect's per-pair hash build.
    *    (An aggregated positional bound in the candidate groupBy —
    *    kpre + min(n1-max ra, n2-max rb) — was tried and is provably
    *    subsumed by the in-join per-match filter: surviving matches are
    *    a rank-prefix of the shared sequence, and the last match's
    *    1 + min(n1-ra, n2-rb) >= minOverlap implies the aggregate
    *    bound, so it filtered nothing.)
    *
    * '''Eager pre-flight (ADVICE r13; two-stage since r16):''' above
    * the [[pairGuard]] corpus-size floor this method runs refusal
    * estimates at CONSTRUCTION time (before the lazy plan is returned)
    * and may throw [[PairVolumeException]] — callers that build plans
    * without executing them still pay the estimate jobs and can still
    * see the refusal. Stage 1 ([[sampledRefuseIfViral]]) answers in
    * roughly one column scan — a 1/r doc sample's census scaled r²,
    * refusing only beyond a 3x margin; stage 2 is the exact census,
    * the final gate on the run that executes. Below the floor (all
    * oracle/bench scales) the call stays fully lazy.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      maxCandidatePairs: Long = 1L << 28): DataFrame =
    ngramJaccardPairsImpl(df, idCol, textCol, threshold, n,
      maxCandidatePairs, sampledProbe = true)

  /** [[ngramJaccardPairs]] with the sampled probe switchable: the
    * sampled surveys ([[sampledJaccardDegree]]) run their inner pair
    * statement on an already-thinned corpus — paying the probe there
    * is a second full scan ([[graft.ScanBytes]] is filter-blind, so
    * the probe rate would also be wrong) for a corpus the caller
    * deliberately thinned; the exact census still gates them.
    */
  private def ngramJaccardPairsImpl(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int,
      maxCandidatePairs: Long, sampledProbe: Boolean): DataFrame = {
    val guard = pairGuard(df)
    // seconds-scale sampled probe first (r16): a viral corpus refuses
    // before the full-corpus shingle/rank machinery is even built
    if (guard && sampledProbe && maxCandidatePairs < Long.MaxValue)
      sampledRefuseIfViral(df, idCol, textCol, threshold, n,
        oneSided = false, maxCandidatePairs, "ngramJaccardPairs")
    val sets = hashedSets(df, idCol, textCol, n)
      .cache() // feeds frequency ranking, candidate join, and verification
    ngramJaccardCore(sets, threshold, guard, maxCandidatePairs)
  }

  /** Whether the pair-report pre-flight machinery engages: the
    * candidate-volume estimate job and the shuffled-hash verification
    * build both only pay off above a corpus-size floor, and below it
    * the estimate job would tax every oracle/bench-scale invocation
    * while the planner's broadcast verification is already optimal.
    * The floor is denominated in ACTUAL scan bytes
    * ([[graft.ScanBytes]], VERDICT r13 #2 — the optimizer-estimate
    * form needed one recalibration per surprise: an earlier 32 MB
    * estimate floor silently never fired, and the sf10 run went
    * straight to the candidate join and filled 67 GB of disk, exactly
    * the failure the estimate exists to prevent). Measured: the
    * 500k-doc scale whose pair volume must be refused is ~60 MB on
    * disk, the 50k-doc scale that completes comfortably is ~6 MB —
    * 16 MB is the geometric midpoint with ~3x margin to both sides.
    */
  private def pairGuard(df: DataFrame): Boolean =
    !df.isStreaming && graft.ScanBytes.of(df) >= (1L << 24)

  /** Pre-flight candidate-volume refusal (VERDICT r12 #2): an upper
    * bound of the candidate join's output from per-gram group sizes —
    * sum over g of C(pc(g), 2) for the self-join form, sum of
    * pc(g) * ec(g) for the one-sided containment form — one cheap
    * aggregate over tables the operator builds anyway, run BEFORE any
    * pair is materialized. Above `bound`, throw
    * [[PairVolumeException]] naming the scale-safe statements instead
    * of letting the verification joins spill the disk full.
    */
  private[graft] def refuseIfViral(pref: DataFrame, ex: Option[DataFrame],
      bound: Long, op: String): Unit = {
    val estD = viralEstimateD(pref, ex)
    if (estD > bound || estD < 0 || !java.lang.Double.isFinite(estD))
      throwViral(estD, bound, op, sampledRate = 0)
  }

  /** The candidate-volume statistic of [[refuseIfViral]], factored out
    * so the sampled pre-flight can reuse it verbatim. Computed in
    * DOUBLE, not long (ADVICE r13): in non-ANSI mode long multiply-sum
    * wraps silently, so at extreme densities the estimate could go
    * negative and the guard would pass exactly when it most needs to
    * refuse. It is an upper bound, so double precision loss is
    * harmless; a wrapped/NaN value (est < 0 or non-finite) also
    * refuses.
    */
  private[graft] def viralEstimateD(pref: DataFrame,
      ex: Option[DataFrame]): Double = {
    val pc = pref.groupBy(col("g")).agg(count(lit(1)).as("pc"))
    ex match {
      case None =>
        pc.agg(coalesce(sum(col("pc").cast("double") *
            (col("pc") - 1).cast("double")), lit(0.0d)))
          .head().getDouble(0) / 2
      case Some(e) =>
        pc.join(e.groupBy(col("g")).agg(count(lit(1)).as("ec")), "g")
          .agg(coalesce(sum(col("pc").cast("double") *
            col("ec").cast("double")), lit(0.0d)))
          .head().getDouble(0)
    }
  }

  private def throwViral(estD: Double, bound: Long, op: String,
      sampledRate: Int): Nothing = {
    val est = if (java.lang.Double.isFinite(estD) && estD >= 0 &&
        estD <= Long.MaxValue.toDouble) estD.toLong else Long.MaxValue
    val impliedR = math.ceil(math.sqrt(
      math.max(1.0, est.toDouble / bound))).toLong
    val how = if (sampledRate == 0) "estimated candidate pair volume"
      else s"sampled pre-flight (1/$sampledRate doc probe, scaled " +
        "rate^2) estimates candidate pair volume"
    throw new PairVolumeException(est, bound,
      s"$op: $how ~$est exceeds " +
        s"maxCandidatePairs=$bound — the exact pair statement is " +
        "intermediate-volume-bound at this duplicate density (the " +
        "pair graph grows with the square of family sizes). " +
        "Scale-safe statements: minhashLshClusterSummary (per-cluster " +
        "summary), dedupPipeline/incrementalDedup (survivors + " +
        "closure), minhashLshTopK / Winnow.overlapTopK (bounded " +
        "per-doc top-k reports), sampledJaccardDegree / " +
        s"sampledContainmentDegree with rateInv >= ~$impliedR " +
        "(uniform 1/r doc sample — pair volume scales by 1/r^2, " +
        "unbiased degree estimates). Raise maxCandidatePairs to force " +
        "this run anyway.")
  }

  /** Seed lane for the pre-flight probe sample — disjoint from the
    * user-facing sampled surveys' lane 97 ([[sampleKeep]]) so the
    * probe's residue class is independent of any rateInv the caller
    * later picks.
    */
  private val PreflightSeed = 101

  /** Probe rate for the sampled pre-flight: thin the corpus to about
    * the [[pairGuard]] floor (~16 MB of scan bytes), where the gram
    * census costs seconds. [[graft.ScanBytes]] is filter-blind, so an
    * already-thinned relation (the sampled surveys) gets the rate of
    * its UNDERLYING scan — the probe-on-probe is over-thinned but the
    * margin discipline below keeps that safe.
    */
  private[graft] def preflightRate(df: DataFrame): Int = {
    val r = graft.ScanBytes.of(df) >> 24
    math.max(2, math.min(r, Int.MaxValue.toLong).toInt)
  }

  /** SAMPLED candidate-volume pre-flight (r16, VERDICT r15 #1): the
    * exact census ([[refuseIfViral]]) shingles + explodes + ranks the
    * FULL corpus before it can refuse — 136.6 s at the 1000x decade,
    * paid again on every probe-then-choose-r retry. This stage runs
    * the SAME statistic on a deterministic 1/r doc sample and scales
    * by r^2 (binomial thinning: for a gram with c sampled-eligible
    * docs, E[s(s-1)] = c(c-1)/r^2 exactly), so a viral corpus refuses
    * in seconds with the estimate that doubles as the rate selector.
    *
    * Margin discipline: the thinned statistic has real variance (and
    * the rarity prefix is re-derived on the sample, so it is an
    * approximation, not a thinned view), so this stage refuses only
    * when the scaled estimate is CLEARLY over — est > 3x bound. The
    * margin is deliberately set AT the spec-pinned agreement band
    * (DedupSpec pins sampled/exact within 3x): under that contract a
    * probe estimate over 3x bound implies the exact census exceeds
    * the bound, so a probe refusal is never a false refusal the exact
    * gate would have overturned. (A 2x margin — the first cut — could
    * terminally refuse a corpus whose exact estimate sits just under
    * the bound while the probe overshoots within its pinned band.)
    * Anything under the margin falls through to the exact census,
    * which remains the final gate on the run that actually executes:
    * a borderline corpus pays the old price for the exact answer; a
    * viral one (the case the latency matters for) is orders of
    * magnitude over the margin.
    *
    * '''Cost floor — terminal (r17 decision note, SCALE_r16 §1b):'''
    * of the measured 21–36 s refusal at the 1000x decade, 8–15 s is
    * the irreducible full text-column scan: the 1/r sample predicate
    * hashes the id (content-unbiased BY DESIGN — a content-derived
    * predicate would bias the gram census toward or away from the
    * viral family), so it cannot prune parquet row groups and every
    * text byte is read once. The one layout under which this floor
    * drops is a table hash-BUCKETED on the id column with bucket
    * count a multiple of r: the residue class then maps to whole
    * buckets and the scan prunes to ~1/r of the row groups. No such
    * consumer exists today; if bucketed corpus layouts appear, route
    * the sample predicate through the bucket spec before the scan.
    */
  private[graft] def sampledRefuseIfViral(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int, oneSided: Boolean,
      bound: Long, op: String): Unit = {
    val r = preflightRate(df)
    val estD = sampledViralEstimateD(df, idCol, textCol, threshold, n,
      oneSided, r)
    if (estD > 3.0 * bound || estD < 0 ||
        !java.lang.Double.isFinite(estD))
      throwViral(estD, bound, op, sampledRate = r)
  }

  /** The sampled pre-flight's estimate at an explicit probe rate —
    * factored out so the spec can pin it against [[viralEstimateD]] on
    * the full corpus (the thinning-variance contract).
    */
  private[graft] def sampledViralEstimateD(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int, oneSided: Boolean,
      r: Int): Double = {
    val probe = df.where(pmod(graft.functions.Hashing
      .hash60(col(idCol).cast("string"), PreflightSeed).cast("long"),
      lit(r)) === 0)
    val sets = hashedSets(probe, idCol, textCol, n).cache()
    try {
      val (ex, pref) = rarityPrefix(sets, threshold)
      viralEstimateD(pref, if (oneSided) Some(ex) else None) *
        r.toDouble * r.toDouble
    } finally { sets.unpersist(); () }
  }

  /** Pre-flight refusal for the EMBEDDING pair report (VERDICT r13
    * #1, the [[refuseIfViral]] twin): the statistic is the WORST
    * cell's C(n,2) over the IVF cell-assignment counts — total
    * within-cell volume is linear in the corpus by IVF design, so the
    * only viral signature is a family-concentrated mega-cell, which
    * is simultaneously the single-task straggler and the
    * Omega(family^2) output. Double arithmetic throughout (the
    * [[refuseIfViral]] overflow treatment); a wrapped or non-finite
    * estimate also refuses.
    */
  private[graft] def refuseIfViralCells(assigned: DataFrame, bound: Long,
      op: String): Unit = {
    val worstD = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).cast("double").as("n"))
      .agg(coalesce(max(col("n") * (col("n") - 1) / 2), lit(0.0d)))
      .head().getDouble(0)
    if (worstD > bound || worstD < 0 || !java.lang.Double.isFinite(worstD))
      throwViralCells(worstD, bound, op, sampledRate = 0)
  }

  /** SAMPLED worst-cell pre-flight (r17 — the embedding twin of
    * [[sampledRefuseIfViral]], motivated by the SCALE_r17 §3 rate sweep
    * at the 1000x decade: the exact census pays the FULL corpus's
    * IVF assignment before it can refuse — 438 s at sf100, MORE than
    * the rateInv=2 relief answer costs, 273 s). This stage assigns
    * only a deterministic 1/r vector probe (disjoint seed lane 101,
    * [[PreflightSeed]]) under the FULL corpus's centroid seed and
    * scales each cell's C(s,2) by r^2 — binomial thinning again:
    * E[s(s-1)] = n(n-1)/r^2 exactly per cell, so the scaled worst is
    * an unbiased estimate wherever one cell dominates. Margin
    * discipline identical to the text side: refuse only beyond the
    * spec-pinned 3x band (DedupSpec pins probe/exact within 3x on a
    * concentrated family), so a probe refusal can never contradict
    * the exact gate; anything under falls through to the exact
    * census, which runs on the assignment the verification join
    * reads anyway. Net effect: a clearly-viral corpus (the planted
    * viral-density shape of SCALE_r14 Finding 2, estimates orders over
    * the bound) refuses in ~assignment/r seconds; a borderline corpus
    * (natural sf100 at 1.6x bound) pays one small probe extra and
    * keeps the exact answer as the gate of record.
    */
  private[graft] def sampledRefuseIfViralCells(df: DataFrame,
      idCol: String, vecCol: String, ncells: Int, bound: Long,
      op: String): Unit = {
    val r = preflightRate(df)
    val estD = sampledWorstCellD(df, idCol, vecCol, ncells, r)
    if (estD > 3.0 * bound || estD < 0 ||
        !java.lang.Double.isFinite(estD))
      throwViralCells(estD, bound, op, sampledRate = r)
  }

  /** The embedding probe's statistic at an explicit rate — factored
    * out so the spec can pin it against the exact worst-cell census
    * (the thinning-variance contract, as [[sampledViralEstimateD]]).
    */
  private[graft] def sampledWorstCellD(df: DataFrame, idCol: String,
      vecCol: String, ncells: Int, r: Int): Double = {
    val probe = df.where(pmod(graft.functions.Hashing
      .hash60(col(idCol).cast("string"), PreflightSeed).cast("long"),
      lit(r)) === 0)
    graft.sim.Similarity.assignCells(probe, idCol, vecCol, ncells,
        seedFrom = df)
      .groupBy(col("cell"))
      .agg(count(lit(1)).cast("double").as("n"))
      .agg(coalesce(max(col("n") * (col("n") - 1) / 2), lit(0.0d)))
      .head().getDouble(0) * r.toDouble * r.toDouble
  }

  private def throwViralCells(estD: Double, bound: Long, op: String,
      sampledRate: Int): Nothing = {
    val est = if (java.lang.Double.isFinite(estD) && estD >= 0 &&
        estD <= Long.MaxValue.toDouble) estD.toLong else Long.MaxValue
    // the estimate doubles as the rate selector, as on the text side:
    // the sampled sibling's worst-cell volume is ~est/r^2, so the
    // smallest answering rate is r ~ sqrt(est/bound)
    val impliedR = math.ceil(math.sqrt(
      est.toDouble / math.max(1L, bound))).toLong
    val how = if (sampledRate == 0) "worst IVF cell implies"
      else s"sampled pre-flight (1/$sampledRate vector probe under " +
        "the full-corpus seed, scaled rate^2) estimates the worst " +
        "IVF cell at"
    throw new PairVolumeException(est, bound,
      s"$op: $how ~$est candidate pairs, over " +
        s"maxCandidatePairs=$bound — a near-identical embedding " +
        "family concentrates in one cell (identical vectors share " +
        "a nearest centroid), so its C(n,2) join is one unbounded " +
        "task and the exact pair statement is output-volume-bound " +
        "at this duplicate density. Scale-safe statements: " +
        "semanticDedup (star-forest closure, O(vectors) edges), " +
        "Similarity.ivfTopKAll / ProductQuantize.ivfPqTopKAll " +
        "(bounded per-query reports), sampledEmbeddingDupPairs " +
        "(uniform 1/r sample — worst-cell volume scales by 1/r^2; " +
        s"this estimate implies rateInv >= ~$impliedR, and the " +
        "sampled output is exactly this statement's pairs with both " +
        "endpoints sampled). " +
        "Raise maxCandidatePairs to force this run anyway.")
  }

  /** The (id, sh: sorted array<long>, nsh) base relation of the
    * prefix-filtered pair operators (d2/d14); empty shingle sets are
    * dropped (no grams — cannot pair). Callers own caching. */
  private def hashedSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val k = udf((t: String) =>
      hashedShinglesKernel(if (t == null) "" else t, n))
      .asNondeterministic() // see signedSets: keeps the kernel above the
    // parallelized() exchange
    parallelized(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), k(col("__t")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).as("nsh"))
  }

  /** The shared prefix-filter scaffolding of d2/d14: the exploded gram
    * table and each doc's rarity-ranked PREFIX — the first
    * |S| - ceil(t|S|) + 1 shingles in global (frequency, value) order,
    * with globally-unique shingles pruned (they cannot match in any
    * candidate join; recall unaffected). The pigeonhole argument is
    * the same for both consumers: a qualifying pair must share a
    * prefix element of the (smaller/contained) side. Returns
    * (ex, pref); callers own caching.
    */
  private def rarityPrefix(sets: DataFrame,
      threshold: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val ex = sets.select(col("id"), col("nsh"), explode(col("sh")).as("g"))
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val pref = ex.join(freq, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cnt"), col("g"))))
      .filter(col("rn") <= (col("nsh") - ceil(col("nsh") * threshold) + 1) &&
        col("cnt") >= 2)
      .select(col("id"), col("nsh"), col("g"), col("rn"))
    (ex, pref)
  }

  /** d2's engine over a pre-built (id, sh: sorted array<long>, nsh)
    * relation — shared with [[nearDupPairs]], where `sets` derives from
    * one [[shingleSets]] materialization instead of a private cache.
    */
  private def ngramJaccardCore(sets: DataFrame, threshold: Double,
      guard: Boolean = false,
      maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    val pref = rarityPrefix(sets, threshold)._2
      .cache() // both sides of the candidate self-join
    if (guard && maxCandidatePairs < Long.MaxValue)
      // on refusal, release the caches the aborted plan would have
      // owned (r16 — a refused construction used to strand pref/sets
      // in the cache manager for the session's lifetime)
      try refuseIfViral(pref, None, maxCandidatePairs, "ngramJaccardPairs")
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal, not just PairVolumeException (ADVICE r16): any
        // pre-flight failure — e.g. a Spark job failure mid-census —
        // must release the caches too, not only the refusal path
        pref.unpersist(); sets.unpersist(); throw e
      }
    // inside the join: size-compatibility (jac >= t forces
    // min size >= t * max size) and the positional overlap upper bound
    val minOverlap = (col("a.nsh") + col("b.nsh")) * (threshold / (1.0 + threshold))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          least(col("a.nsh"), col("b.nsh")) >=
            greatest(col("a.nsh"), col("b.nsh")) * threshold &&
          (lit(1) + least(col("a.nsh") - col("a.rn"), col("b.nsh") - col("b.rn"))) >=
            minOverlap)
      .groupBy(col("a.id").as("d1"), col("b.id").as("d2"))
      .agg(first(col("a.nsh")).as("n1"), first(col("b.nsh")).as("n2"))
    verifyJaccardHashed(cand, sets, threshold, guard)
  }

  /** Exact-Jaccard verification over SORTED hashed shingle sets
    * (linear-merge intersection; candidate rows already carry both set
    * sizes, so the two set joins fetch only the long arrays). Above
    * the [[pairGuard]] floor the bounded SETS side is pinned as a
    * shuffled-hash BUILD: the default sort-merge would SORT the
    * streamed side — the unbounded candidate-pair stream, arrays
    * attached on the second hop — which is the sf10 sort-spill
    * failure mode; the hash build sorts nothing and streams the pair
    * side through. Below the floor no hint is applied and the
    * planner's broadcast join stands (no exchange of the pair stream
    * at all).
    */
  private def verifyJaccardHashed(cand: DataFrame, sets: DataFrame,
      threshold: Double, hashBuild: Boolean = false): DataFrame = {
    def build(s: DataFrame): DataFrame =
      if (hashBuild) s.hint("shuffle_hash") else s
    cand
      .join(build(sets.select(col("id").as("d1"), col("sh").as("sh1"))), "d1")
      .join(build(sets.select(col("id").as("d2"), col("sh").as("sh2"))), "d2")
      .withColumn("inter",
        org.apache.spark.sql.graft.SortedIntersectCount(col("sh1"), col("sh2")))
      .withColumn("jac", col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** All ordered pairs with n-gram CONTAINMENT
    * `|S(d1) ∩ S(d2)| / |S(d1)| >= threshold` — the ASYMMETRIC near-dup
    * relation (a quote inside a book, boilerplate inside a page, a doc
    * republished with extra framing) that symmetric Jaccard
    * structurally misses when the container is much larger than the
    * contained text: J = inter/union shrinks with the container's size
    * while C(d1 -> d2) does not.
    *
    * Candidate generation is the one-sided prefix filter: only the
    * CONTAINED side can be prefix-filtered (pigeonhole over d1's
    * rarity-ranked prefix of |S1| - ceil(t|S1|) + 1 shingles — if none
    * of them is in S2, more than (1-t)|S1| shingles are missing and C
    * < t), while the container side contributes its full gram index —
    * the [[graft.text.Decontaminate]] shape turned corpus-vs-self.
    * Inside the join: the size bound |S2| >= t|S1| (the intersection
    * cannot exceed |S2|) and the d2-style positional bound on the
    * contained side's first shared prefix element (1 + |S1| - rank >=
    * t|S1|). Verification is the same codegen'd sorted-merge
    * intersection as d2; the division and threshold compare are
    * cross-engine exact.
    *
    * Globally-unique grams are pruned from the prefix (they cannot
    * match — recall unaffected); both directions of a pair are emitted
    * independently when both qualify.
    *
    * '''Eager pre-flight (ADVICE r13; two-stage since r16):''' same
    * contract as [[ngramJaccardPairs]] — a sampled stage-1 estimate
    * (one-sided pc*ec form) that refuses beyond a 3x margin in about
    * one column scan, then the exact census as the final gate.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      maxCandidatePairs: Long = 1L << 28): DataFrame =
    containmentPairsImpl(df, idCol, textCol, threshold, n,
      maxCandidatePairs, sampledProbe = true)

  /** [[containmentPairs]] with the sampled probe switchable — same
    * rationale as [[ngramJaccardPairsImpl]].
    */
  private def containmentPairsImpl(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int,
      maxCandidatePairs: Long, sampledProbe: Boolean): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val guard = pairGuard(df)
    // seconds-scale sampled probe first (r16): a viral corpus refuses
    // before the full-corpus shingle/rank machinery is even built
    if (guard && sampledProbe && maxCandidatePairs < Long.MaxValue)
      sampledRefuseIfViral(df, idCol, textCol, threshold, n,
        oneSided = true, maxCandidatePairs, "containmentPairs")
    val sets = hashedSets(df, idCol, textCol, n)
      .cache() // feeds ranking, the index side, and verification
    val (ex, pref) = rarityPrefix(sets, threshold)
    if (guard && maxCandidatePairs < Long.MaxValue)
      // release the cache on refusal (see ngramJaccardCore)
      try refuseIfViral(pref, Some(ex), maxCandidatePairs, "containmentPairs")
      catch { case scala.util.control.NonFatal(e) => // see ngramJaccardCore
        sets.unpersist(); throw e }
    def build(s: DataFrame): DataFrame =
      if (guard) s.hint("shuffle_hash") else s
    val cand = pref.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id") &&
          col("b.nsh") >= col("a.nsh") * threshold &&
          (lit(1) + col("a.nsh") - col("a.rn")) >= col("a.nsh") * threshold)
      .groupBy(col("a.id").as("d1"), col("b.id").as("d2"))
      .agg(first(col("a.nsh")).as("n1"))
    cand
      .join(build(sets.select(col("id").as("d1"), col("sh").as("sh1"))), "d1")
      .join(build(sets.select(col("id").as("d2"), col("sh").as("sh2"))), "d2")
      .withColumn("inter",
        org.apache.spark.sql.graft.SortedIntersectCount(col("sh1"), col("sh2")))
      .withColumn("containment", col("inter").cast("double") / col("n1"))
      .filter(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("containment"))
  }

  /** MinHash signature kernel: one seeded md5 digest per shingle yields
    * TWO independent members (hex chars 1-15 and 17-31 are independent
    * digest bits), halving the hashing. A compiled UDF rather than
    * Catalyst md5/conv expressions: higher-order-function lambdas are
    * interpreted without common-subexpression elimination, so the
    * expression form recomputes every digest per member; the JVM loop
    * computes each digest exactly once. Values are identical to
    * `conv(substr(md5(concat(seed,':',g)),off,15),16,10)`, so the DuckDB
    * oracle reproduces them bit-for-bit.
    *
    * A single-digest affine family was measurably worse: its minima
    * correlate across members, so LSH bands collide for unrelated
    * documents and verification explodes.
    */
  def minhashSignatureKernel(shingles: Seq[String], numHashes: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val minima = Array.fill(numHashes)(Long.MaxValue)
    val nSeeds = (numHashes + 1) / 2
    // seed prefixes rendered to bytes once per call (not per shingle),
    // and each shingle's UTF-8 bytes computed once across all seeds —
    // md.update(prefix); md.update(g) digests the same byte stream as
    // the former (seed + ":" + g) string concat, so values are
    // bit-identical to the hex/parseLong formulation and to the DuckDB
    // oracle's conv(substr(md5(...)),16,10)
    val prefixes = Array.tabulate(nSeeds)(s =>
      (s.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    shingles.foreach { g =>
      val gb = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var s = 0
      while (s < nSeeds) {
        md.update(prefixes(s))
        md.update(gb)
        val digest = md.digest() // digest() resets the instance
        val even = be60(digest, 0)
        if (even < minima(2 * s)) minima(2 * s) = even
        if (2 * s + 1 < numHashes) {
          val odd = be60(digest, 8)
          if (odd < minima(2 * s + 1)) minima(2 * s + 1) = odd
        }
        s += 1
      }
    }
    minima
  }

  /** The top 60 bits of 8 digest bytes at `off`, big-endian — exactly
    * `parseLong(hex.substring(2*off, 2*off + 15), 16)`: 15 hex chars =
    * bytes off..off+7 with the final low nibble dropped, i.e. the
    * 64-bit big-endian value logically shifted right by 4.
    */
  private def be60(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    val end = off + 8
    while (i < end) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Signature column over a shingle-set column. */
  def minhashSignature(sh: Column, numHashes: Int): Column = {
    val k = udf((s: Seq[String]) => minhashSignatureKernel(s, numHashes))
    k(sh)
  }

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard.
    *
    * numHashes = bands * rowsPerBand. A pair collides if any band of the
    * signature matches exactly; collisions are then verified against the
    * true shingle Jaccard, so output is exact over the candidate set
    * (deterministic: the hash family is fixed, not sampled).
    *
    * '''Long-id contract''' (ADVICE r14): `idCol` must be integral
    * (byte/short/int/long) — the whole dedup closure family's
    * convention (closeComponents, minhashLshTopK). Non-integral ids
    * fail loudly at plan construction; hash or dense-rank string ids
    * to long before calling.
    *
    * '''Streaming bound''' (r16, closing SCALE_r15 residual 2): on a
    * streaming input the oversized-bucket census cannot run, so every
    * band bucket takes the in-bucket kernel — a viral duplicate family
    * arriving within one micro-batch buffers its bucket whole in one
    * task (memory ~ family x shingle-array size). That is the
    * documented bound, not a to-do: no streaming pair-report consumer
    * exists in this engine (the streaming chains consume CLOSURES via
    * [[graft.streaming.EventTimeChain]], whose state is per-key
    * bounded), and building skew routing for a consumer that does not
    * exist would be speculative. Revisit only if a streaming
    * pair-report consumer appears; batch callers are unaffected (the
    * census caps buckets).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 12, rowsPerBand: Int = 3,
      n: Int = 3): DataFrame =
    minhashLshPairsFromSets(signedSets(df, idCol, textCol, numHashes, n),
      threshold, numHashes, rowsPerBand)

  /** The FUSED minhash base relation: (id, nsh, shd: sorted
    * array<long>, sig: minhash signature), cached — one compiled
    * kernel tokenizes, fingerprints, and signs each text in a single
    * pass. The former [[shingleSets]] + [[minhashSignature]] chain
    * round-tripped the string shingle array through Tungsten twice
    * (write it out of the shingle UDF, read it back into the signature
    * UDF — UTF8String conversion per element each way); here the
    * strings never leave the JVM kernel, which is the dominant cost of
    * the d3/d15 front-end at scale. Values are bit-identical to the
    * unfused chain (same kernels composed), so every oracle is
    * unchanged. Empty shingle sets are dropped (no grams — cannot pair
    * or collide).
    */
  def signedSets(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 12, n: Int = 3): DataFrame = {
    val k = udf((t: String) => {
      val sh = shinglesKernel(if (t == null) "" else t, n)
      val shd = new Array[Long](sh.length)
      var i = 0
      while (i < sh.length) { shd(i) = fnv1a64(sh(i)); i += 1 }
      java.util.Arrays.sort(shd)
      (sh.length, shd, minhashSignatureKernel(sh, numHashes))
    }).asNondeterministic() // values ARE deterministic; the marker stops
    // Catalyst pushing this CPU-bound project below the parallelized()
    // exchange back onto the (few) input splits — measured 6.2 s -> 0.8 s
    // on the 50k-doc stress table (kernel on 1 thread vs 32)
    parallelized(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), k(col("__t")).as("k"))
      .filter(col("k._1") > 0)
      .select(col("id"), col("k._1").as("nsh"), col("k._2").as("shd"),
        col("k._3").as("sig"))
      .cache()
  }

  /** Repartition a narrow (id, text) input up to the cluster's
    * parallelism when the source plan under-parallelizes the CPU-bound
    * per-doc kernels — a single small parquet file yields 1-2 input
    * splits, which serializes the MD5 minhash front-end on one core
    * (measured 9.1 s -> 4.3 s at the 50k-doc stress scale). No-op, and
    * no shuffle, when the scan already carries enough splits — the
    * corpus-scale case, where a blind repartition would be a full
    * shuffle of the text column — AND below a 2 MB floor (ADVICE
    * r12): on a corpus that small the serial kernel pass is cheaper
    * than the exchange plus the per-stage task overhead the extra
    * partitions add to every downstream stage. The floor is
    * denominated in ACTUAL scan bytes ([[graft.ScanBytes]], VERDICT
    * r13 #2) — measured: the oracle scales where the exchange hurt
    * are <= 0.6 MB on disk, the 50k-doc scale where it pays is
    * 6.0 MB, so 2 MB is the geometric midpoint with ~3x margin to
    * both sides.
    */
  private def parallelized(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches size themselves
    val bytes = graft.ScanBytes.of(df)
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (bytes >= (1L << 21) && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** The shared near-dup base relation: (id, sh: array<string>,
    * shd: sorted array<long>, nsh), cached. String shingles drive the
    * minhash signatures (the oracle-mirrored MD5 family hashes shingle
    * TEXT); the sorted 64-bit fingerprints drive both operators'
    * merge-kernel verification. At corpus scale this is the
    * persisted/checkpointed table both d2 and d3 read.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val shingleK = udf((t: String) =>
      shinglesKernel(if (t == null) "" else t, n)).asNondeterministic()
    val sortedHashes = udf((sh: Seq[String]) => {
      val h = sh.map(fnv1a64).toArray
      java.util.Arrays.sort(h)
      h
    })
    parallelized(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), shingleK(col("__t")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), sortedHashes(col("sh")).as("shd"),
        size(col("sh")).as("nsh"))
      .cache()
  }

  /** Both near-dup operators off ONE [[shingleSets]] materialization
    * (VERDICT r4 #10): the shingle build + hash + cache runs once and
    * feeds d2's prefix-filtered join and d3's banded join. Standalone
    * entry points keep their own leaner materializations (d2 never
    * needs the string shingles), so this is the explicit opt-in for
    * pipelines that run the whole dedup family.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.5, lshThreshold: Double = 0.7,
      numHashes: Int = 12, rowsPerBand: Int = 3, n: Int = 3)
      : (DataFrame, DataFrame) = {
    val sets = signedSets(df, idCol, textCol, numHashes, n)
    val d2 = ngramJaccardCore(
      sets.select(col("id"), col("shd").as("sh"), col("nsh")),
      jaccardThreshold)
    val d3 = minhashLshPairsFromSets(sets, lshThreshold, numHashes, rowsPerBand)
    (d2, d3)
  }

  /** d3's engine over a pre-built [[signedSets]] relation (a legacy
    * [[shingleSets]] relation also works: when no `sig` column is
    * present, signatures are computed from the string shingles).
    *
    * r14 plan (SCALE_r14: the r13-shaped candidate join re-joined the
    * sets table TWICE to fetch shingle payloads, shuffling two ~350 B
    * arrays per CANDIDATE row — ~200 GB of spill at the sf100 decade,
    * where the one-box probe died on disk): verification now runs
    * INSIDE the band buckets. Each doc's band rows carry (nsh, shd,
    * sig) once — one groupByKey exchange of O(docs x bands) rows —
    * and the per-bucket kernel merge-verifies in place. Each
    * qualifying pair is emitted by its FIRST truly-shared band only
    * (elementwise signature-slice equality, computed per pair), so:
    * (a) no pair is verified or emitted twice — the global
    * candidate-distinct shuffle of the old plan disappears outright;
    * (b) bucket membership may be grouped by a 64-bit band-key hash,
    * but emission requires EXACT slice equality at some band, so the
    * pair set is bit-for-bit the raw-triple-equality semantics the
    * oracle encodes — a key collision only co-locates rows, it can
    * never admit a pair. Buckets over `bucketCap` keep the spilling
    * self-join (the [[minhashForestParts]] skew discipline) with the
    * same ownership predicate in Column form, so the two paths
    * partition the pair set exactly.
    *
    * '''`bucketCap` is advisory on streaming inputs''' (r16, ADVICE
    * r15): the oversized-bucket census is an eager aggregate the
    * streaming planner cannot run, so streaming relations always take
    * the in-bucket kernel route — results stay correct, but a viral
    * band bucket buffers whole in one task. An explicit non-default
    * cap on a streaming input logs a warning rather than silently
    * doing nothing.
    */
  def minhashLshPairsFromSets(sets: DataFrame, threshold: Double,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val bandsN = numHashes / rowsPerBand
    val sigs =
      if (sets.columns.contains("sig")) sets
      else sets.withColumn("sig", minhashSignature(col("sh"), numHashes))
    val bandKeys = (0 until bandsN).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        col("sig")(b * rowsPerBand + r))): _*)
    }
    val bandStructs = (0 until bandsN).map { b =>
      struct(lit(b).as("band"), bandKeys(b).as("bkey"))
    }
    // long-id contract (the whole dedup closure family's convention —
    // closeComponents/minhashLshTopK already cast ids to long): fail
    // loudly on a non-integral id column rather than let the cast
    // null out and surface as a cryptic encoder error
    require(Seq("long", "int", "short", "byte", "integer")
        .contains(sigs.schema("id").dataType.typeName),
      s"minhashLshPairsFromSets requires an integral id column; got " +
        sigs.schema("id").dataType.typeName)
    val banded = sigs
      .select(col("id").cast("long").as("id"), col("nsh"), col("shd"),
        col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("bb.bkey").as("bkey"), col("bb.band").as("band"),
        col("id"), col("nsh"), col("shd"), col("sig"))
    // eager NARROW skew pass off the cached set table (bkey longs
    // only) — bounded by bandRows/bucketCap, the Selection counter-map
    // pattern; empty on every realistic corpus. Gated (ADVICE r14)
    // behind the SAME pairGuard floor as the refusal pre-flights (one
    // derivation, review r15 — the inlined copy could silently diverge
    // on recalibration) so small corpora and plan-only callers stay
    // fully lazy: below ~16 MB of source text a bucket past the
    // default 2^16 cap is not credible, and a missed census is a
    // robustness miss only (the kernel buffers one oversized bucket in
    // a task), never a wrong answer. An explicit non-default cap is a
    // caller asking for capping — census runs; a cap EQUAL to
    // [[DefaultBucketCap]] is indistinguishable from the default and
    // keeps the floor gate (pass cap-1 to force the census). Streaming
    // relations can never run the census (an eager collect on a
    // streaming source throws), so they always take the kernel route —
    // the same behavior they had before the cap existed (review r15:
    // a capped streaming call used to throw AnalysisException at
    // plan construction).
    if (sets.isStreaming && bucketCap != DefaultBucketCap)
      log.warn(s"minhashLshPairsFromSets: bucketCap=$bucketCap is " +
        "advisory on streaming inputs — the oversized-bucket census " +
        "cannot run on a streaming relation, so all buckets take the " +
        "in-bucket kernel route (correct, but a bucket past the cap " +
        "buffers whole in one task)")
    val censusNeeded = !sets.isStreaming &&
      (bucketCap != DefaultBucketCap || pairGuard(sets))
    val bigKeys: Array[Long] =
      if (!censusNeeded) Array.empty
      else sigs
        .select(explode(array(bandKeys: _*)).as("bkey"))
        .groupBy(col("bkey")).agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > bucketCap)
        .select(col("bkey")).as[Long].collect()
    val smallB =
      if (bigKeys.isEmpty) banded
      else banded.filter(!col("bkey").isInCollection(bigKeys))
    val small = smallB
      .as[(Long, Int, Long, Int, Array[Long], Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups((_: Long,
          it: Iterator[(Long, Int, Long, Int, Array[Long], Array[Long])]) =>
        lshBucketPairs(it, threshold, rowsPerBand))
      .toDF("d1", "d2", "jac")
    if (bigKeys.isEmpty) small
    else {
      val largeB = banded.filter(col("bkey").isInCollection(bigKeys))
      // first truly-shared band of the pair, as a when-chain checked
      // in band order — the same ownership rule as the kernel
      val shared = (0 until bandsN).map { b =>
        (0 until rowsPerBand).map(rr =>
          col("a.sig")(b * rowsPerBand + rr) ===
            col("b.sig")(b * rowsPerBand + rr)).reduce(_ && _)
      }
      val firstShared = shared.zipWithIndex.foldRight(lit(-1)) {
        case ((c, b), acc) => when(c, lit(b)).otherwise(acc)
      }
      val large = largeB.as("a").join(largeB.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.band") === col("b.band") &&
            col("a.id") < col("b.id") &&
            least(col("a.nsh"), col("b.nsh")) >=
              greatest(col("a.nsh"), col("b.nsh")) * threshold)
        .filter(firstShared === col("a.band"))
        .withColumn("inter", org.apache.spark.sql.graft.SortedIntersectCount(
          col("a.shd"), col("b.shd")))
        .withColumn("jac", col("inter").cast("double") /
          (col("a.nsh") + col("b.nsh") - col("inter")))
        .filter(col("jac") >= threshold)
        .select(col("a.id").as("d1"), col("b.id").as("d2"), col("jac"))
      small.union(large)
    }
  }

  /** Per-bucket kernel of [[minhashLshPairsFromSets]]: pairwise exact
    * sorted-merge Jaccard over the bucket's members, emitting
    * `(d1, d2, jac)` with `d1 < d2` for pairs at or above the
    * threshold whose FIRST truly-shared band is this bucket's band —
    * the ownership rule that makes global emissions exactly-once with
    * no distinct, and restores exact raw-triple bucket semantics
    * under the hashed grouping key (a collision-mixed pair shares no
    * slice at this band and is skipped). Buffered state is bounded by
    * `bucketCap` members' (shd, sig) arrays.
    */
  private[graft] def lshBucketPairs(
      it: Iterator[(Long, Int, Long, Int, Array[Long], Array[Long])],
      threshold: Double, rowsPerBand: Int): Iterator[(Long, Long, Double)] = {
    val bands = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val szs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sets = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    val sigsB = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    it.foreach { case (_, band, id, nsh, shd, sig) =>
      bands += band; ids += id; szs += nsh; sets += shd; sigsB += sig
    }
    def firstSharedBand(s1: Array[Long], s2: Array[Long]): Int = {
      var b = 0
      // full bands only: numHashes % rowsPerBand trailing hashes are
      // not a band (r14 review catch — `b*r < len` walked a partial
      // trailing band past the array end when r does not divide len)
      while ((b + 1) * rowsPerBand <= s1.length) {
        var k = 0; var eq = true
        while (k < rowsPerBand && eq) {
          eq = s1(b * rowsPerBand + k) == s2(b * rowsPerBand + k); k += 1
        }
        if (eq) return b
        b += 1
      }
      -1
    }
    val m = ids.length
    // LAZY pair stream — a near-dup family bucket emits C(k,2) pairs,
    // which must stream out of flatMapGroups, not buffer in the task
    // (a 10k-copy viral family is 50M output tuples)
    (0 until m).iterator.flatMap { i =>
      (i + 1 until m).iterator.flatMap { j =>
        // ids(i) == ids(j): a duplicated id row can never form a pair —
        // mirror the fallback join's STRICT a.id < b.id (ADVICE r14:
        // the swap-only order emitted a degenerate (id, id, 1.0))
        if (ids(i) != ids(j) && bands(i) == bands(j) &&
            firstSharedBand(sigsB(i), sigsB(j)) == bands(i)) {
          val n1 = szs(i); val n2 = szs(j)
          if (math.min(n1, n2) >= math.max(n1, n2) * threshold) {
            val a = sets(i); val b = sets(j)
            var x = 0; var y = 0; var inter = 0
            while (x < a.length && y < b.length) {
              if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
              else if (a(x) < b(y)) x += 1 else y += 1
            }
            val jac = inter.toDouble / (n1 + n2 - inter)
            if (jac >= threshold) {
              if (ids(i) < ids(j)) Iterator.single((ids(i), ids(j), jac))
              else Iterator.single((ids(j), ids(i), jac))
            } else Iterator.empty
          } else Iterator.empty
        } else Iterator.empty
      }
    }
  }

  /** Linear-output CLUSTER SUMMARY over the MinHash-LSH verified
    * near-dup graph — the scale-safe sibling of [[minhashLshPairs]]
    * for consumers that need cluster structure, not the pair report:
    * one row per NONTRIVIAL component (>= 2 docs) of the
    * exact-Jaccard-verified candidate graph, carrying the component's
    * min doc id, its size, and the implied closure pair count
    * n(n-1)/2.
    *
    * Why it scales where the pair report cannot: a duplicate family of
    * c docs is Omega(c^2) OUTPUT for [[minhashLshPairs]] (the sf1
    * replication stress's 8x slope — the report IS the answer), but
    * c-1 star edges and ONE summary row here. Verification compute is
    * also linear per family, not quadratic: the per-bucket union-find
    * verifies a candidate pair (exact sorted-merge Jaccard, the same
    * math as d3's verifier) ONLY when the two sides are not already
    * connected, so a clique costs c-1 merges and the remaining
    * candidate checks are near-O(1) find() probes. Buckets whose
    * members do NOT verify still pay their pairwise merges — LSH at
    * high thresholds keeps such buckets rare.
    *
    * Exactness: every verified pair is by construction a band
    * collision, so it is examined inside at least one shared bucket,
    * where lazy union-find either verifies it or has already connected
    * it — the union of bucket stars therefore has exactly the
    * connected components of the full verified pair set (the
    * [[simhashForest]] argument with LSH-candidate pigeonhole); the
    * exact-text pre-collapse is transparent (identical texts are
    * jaccard-1 mates of their rep and band-identical to it), and the
    * cross-bucket closure runs driver-side under `edgeGate` (the star
    * forest is linear in distinct docs, so a collect + union-find +
    * broadcast beats an iterative join loop by an order of magnitude
    * at realistic edge volumes) with [[connectedComponents]] as the
    * above-gate fallback. Singleton docs (no verified partner) emit
    * nothing, mirroring the pair report's silence about them.
    */
  def minhashLshClusterSummary(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int = 12,
      rowsPerBand: Int = 3, n: Int = 3, maxIter: Int = 25,
      sweep: SweepCheckpoint = SweepCheckpoint.Local,
      edgeGate: Long = 1L << 20, bucketCap: Int = 1 << 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // stage 1: EXACT-text collapse (the dedupPipeline stage-1 shape).
    // Identical texts have identical shingle sets, hence jac = 1 >= any
    // threshold and identical band signatures — so a copy group is
    // always one component with its min id as rep, and every edge any
    // copy would generate is generated by the rep. A mega family of c
    // identical docs therefore costs ONE signed set and zero bucket
    // work here, instead of c signature kernels, c rows in each of its
    // band buckets (4x redundant merges), and a c-member single-task
    // bucket group — the 100 TB viral-duplicate hazard.
    val hashed = df.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__text"),
      md5(coalesce(col(textCol), lit(""))).as("__ch"))
    val groups = hashed.groupBy(col("__ch"))
      .agg(min(col("id")).as("rid"), count(lit(1)).as("n_copies"))
      .cache()
    val repDocs = hashed.select(col("id"), col("__text"))
      .join(groups.select(col("rid").as("id")), "id")
    // stage 2: fused signed sets over the DISTINCT texts only
    val sets = signedSets(repDocs, "id", "__text", numHashes, n)
    // stage 3: capped banded star forest — edge count is linear in the
    // distinct-doc count (<= bands per doc), never in pair volume
    val (forest0, nBig) = minhashForestParts(sets, threshold, numHashes,
      rowsPerBand, bucketCap)
    val forest = forest0.cache()
    val nEdges = forest.count()
    if (nBig > 0)
      log.warn(s"minhashLshClusterSummary: $nBig LSH bucket(s) over " +
        s"bucketCap=$bucketCap routed to the spilling join path")
    // stage 4: cross-bucket closure. The star forest has O(distinct
    // docs) edges by construction, so the normal path collects it
    // under a size gate and closes it with a driver union-find — one
    // job + one broadcast join, instead of the iterative sweep loop
    // whose per-sweep fixed costs dominated at this edge volume
    // (VERDICT r11 #1). Above the gate (or on a genuinely huge dup
    // population) the distributed sweep loop takes over unchanged.
    val labels: DataFrame = closeComponents(forest, maxIter, sweep,
        edgeGate, Some(nEdges))
      .select(col("id").as("rid"), col("label"))
    // labels is materialized on BOTH closure paths (driver union-find
    // broadcast below the gate; checkpoint-backed sweeps above), so the
    // forest cache is dead here — free it instead of letting one cached
    // edge table per invocation accrete for the session (ADVICE r12).
    // `groups`/`sets` still back the returned lazy plan: callers own
    // those lifetimes (the signedSets convention — Verify/Bench clear
    // per query, pipelines own clearCache).
    forest.unpersist()
    // stage 5: weighted summary — copy groups count with their
    // multiplicity; reps with no verified partner and a single copy
    // are singletons and emit nothing (the pair report's silence).
    // Zero-SHINGLE groups (empty/too-short texts) are excluded even
    // when several docs share the text byte-for-byte: the statement
    // is the summary of d3's VERIFIED Jaccard graph, and a doc with
    // no shingles has no Jaccard identity there (0/0) — signedSets
    // drops them, so membership in `sets` is exactly d3's domain
    // (fuzz-found: all-empty corpora produced a phantom copy family)
    groups.select(col("rid"), col("n_copies"))
      .join(sets.select(col("id").as("rid")), Seq("rid"), "left_semi")
      .join(labels, Seq("rid"), "left")
      .groupBy(coalesce(col("label"), col("rid")).as("cluster_id"))
      .agg(sum(col("n_copies")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("cluster_id"), col("n_docs"),
        (col("n_docs") * (col("n_docs") - lit(1L)) / lit(2L))
          .cast("long").as("n_pairs"))
  }

  /** Component labels `(id, label)` over a `(d1, d2)` edge list — the
    * gated two-path closure every dedup chain routes through
    * (SCALE_r12): at or below `edgeGate` edges, one collect + driver
    * union-find + broadcast — a single job, immune to graph DIAMETER,
    * which the iterative sweep loop is not (d13's sf10 chain graphs
    * exceeded the 25-sweep budget, and the per-sweep fixed costs
    * dominate at forest-sized edge volumes anyway). Above the gate,
    * [[connectedComponents]]'s distributed min-label sweeps take over
    * unchanged (cluster-scale path; its convergence budget and resume
    * artifact still apply). The edge list is collected but the OUTPUT
    * is one row per touched node — broadcast-sized whenever the gate
    * admits the edges.
    */
  private[graft] def closeComponents(pairs: DataFrame, maxIter: Int = 25,
      sweep: SweepCheckpoint = SweepCheckpoint.Local,
      edgeGate: Long = 1L << 24, knownCount: Option[Long] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("d1").cast("long").as("d1"),
      col("d2").cast("long").as("d2"))
    val counted = if (knownCount.isEmpty) p.cache() else p
    val n = knownCount.getOrElse(counted.count())
    val out =
      if (n <= edgeGate) {
        // the ADVICE r12 finding (driver transient), resolved by making
        // the collect cheap rather than shrinking the gate (lowering it
        // to 1<<22 pushed d13's 9.6M-edge sf10 closure onto the
        // distributed sweeps: +25% wall); then the ADVICE r13 finding
        // (correctness): collecting d1 and d2 as two SEPARATE jobs and
        // zipping by index silently mispairs endpoints if a cached
        // block is lost and recomputed through a shuffle whose
        // within-partition order is non-deterministic. Both endpoints
        // now come down in ONE job as per-partition interleaved
        // primitive Array[Long]s (16 bytes/edge on the wire, no Row or
        // Tuple2 objects) — each edge's endpoints travel together, so
        // no cross-job ordering assumption exists to violate, and no
        // cache is needed for consistency.
        val chunks: Array[Array[Long]] = counted
          .queryExecution.toRdd.mapPartitions { it =>
            val buf = new scala.collection.mutable.ArrayBuilder.ofLong
            while (it.hasNext) {
              val r = it.next()
              buf += r.getLong(0); buf += r.getLong(1)
            }
            Iterator.single(buf.result())
          }.collect()
        val nEdges = chunks.foldLeft(0L)(_ + _.length / 2)
        require(nEdges <= Int.MaxValue.toLong,
          s"edge count $nEdges exceeds driver union-find addressability")
        var src = new Array[Long](nEdges.toInt)
        var dst = new Array[Long](nEdges.toInt)
        var o = 0
        var ci = 0
        while (ci < chunks.length) {
          val c = chunks(ci)
          var i = 0
          while (i < c.length) { src(o) = c(i); dst(o) = c(i + 1); i += 2; o += 1 }
          chunks(ci) = null // free each interleaved chunk as it's unpacked
          ci += 1
        }
        val (nodeIds, nodeLabels) = driverComponentLabels(src, dst)
        src = null; dst = null // the union-find no longer needs the edges
        // the label table leaves the driver as a BROADCAST of the two
        // primitive arrays read per-partition by index — r14's gate
        // headroom probe (SCALE_r14 Finding 3) showed the former boxed
        // Array[(Long, Long)] + LocalRelation conversion OOMing the 8 g
        // default heap at the 2^24 boundary under the worst-case node
        // count (2 nodes/edge): ~1.9 GB of tuple boxing plus a second
        // InternalRow copy, both avoided here (rows materialize per
        // partition, transiently)
        val sc = spark.sparkContext
        val bcIds = sc.broadcast(nodeIds)
        val bcLabels = sc.broadcast(nodeLabels)
        val nNodes = nodeIds.length
        broadcast(spark.range(nNodes.toLong)
          .mapPartitions { it =>
            val ids = bcIds.value; val labels = bcLabels.value
            it.map { k => (ids(k.toInt), labels(k.toInt)) }
          }
          .toDF("id", "label"))
      } else {
        log.warn(s"closeComponents: $n edges exceed edgeGate=$edgeGate " +
          "— using distributed sweeps")
        connectedComponents(counted, maxIter, sweep)
      }
    if (knownCount.isEmpty) counted.unpersist()
    out
  }

  /** Driver-side union-find over a gated edge list: label = the min
    * node id of each component, for every node that appears in an
    * edge. The [[graft.functions.Selection]] counter-map pattern: the
    * edge volume is structurally bounded (linear in distinct docs for
    * the star forest), so a single collect + path-compressing
    * union-find replaces an iterative join loop whose per-sweep fixed
    * costs exceed the whole computation at this size. Returns the
    * parallel primitive arrays (node ids, component labels) — no
    * per-node boxing (r14 gate-headroom evidence: the boxed tuple
    * array alone was ~1.9 GB at the 2^24 boundary).
    */
  private[graft] def driverComponentLabels(
      src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) = {
    require(src.length == dst.length,
      s"edge endpoint arrays differ: ${src.length} vs ${dst.length}")
    // open-addressed long -> slot index (linear probing, power-of-two
    // capacity, load <= 0.5, GROWN by doubling): the table is sized to
    // the ACTUAL distinct-node count — near-dup edge lists are
    // clique-ish, so nodes ~ edges, far under the 2 * edges worst case
    // — and the whole structure is four primitive arrays: no boxing,
    // no per-entry object headers (ADVICE r12: the boxed HashMap form
    // was a multi-GB transient near the edge gate)
    var cap = 1 << 10
    var keys = new Array[Long](cap)
    var slotOf = new Array[Int](cap) // -1 = empty
    java.util.Arrays.fill(slotOf, -1)
    var ids = new Array[Long](cap / 2)
    var parent = new Array[Int](cap / 2)
    var nNodes = 0
    def hashIdx(v: Long, mask: Int): Int = {
      // finalizer mix so sequential ids spread across the table
      var h = (v ^ (v >>> 33)) * 0xff51afd7ed558ccdL
      h ^= h >>> 33
      (h & mask).toInt
    }
    def grow(): Unit = {
      cap <<= 1
      val nk = new Array[Long](cap)
      val ns = new Array[Int](cap)
      java.util.Arrays.fill(ns, -1)
      val mask = cap - 1
      var i = 0
      while (i < nNodes) {
        var j = hashIdx(ids(i), mask)
        while (ns(j) != -1) j = (j + 1) & mask
        nk(j) = ids(i); ns(j) = i
        i += 1
      }
      keys = nk; slotOf = ns
      ids = java.util.Arrays.copyOf(ids, cap / 2)
      parent = java.util.Arrays.copyOf(parent, cap / 2)
    }
    def node(v: Long): Int = {
      if (2 * nNodes >= cap) grow()
      val mask = cap - 1
      var i = hashIdx(v, mask)
      while (true) {
        val s = slotOf(i)
        if (s == -1) {
          keys(i) = v
          slotOf(i) = nNodes
          ids(nNodes) = v
          parent(nNodes) = nNodes
          nNodes += 1
          return nNodes - 1
        }
        if (keys(i) == v) return s
        i = (i + 1) & mask
      }
      -1 // unreachable
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var e = 0
    while (e < src.length) {
      val ra = find(node(src(e))); val rb = find(node(dst(e)))
      if (ra != rb) parent(rb) = ra
      e += 1
    }
    keys = null; slotOf = null // lookup table dead past the edge loop
    // min id per component root (slot-indexed primitive array)
    val rootMin = Array.fill(nNodes)(Long.MaxValue)
    var i = 0
    while (i < nNodes) {
      val r = find(i)
      if (ids(i) < rootMin(r)) rootMin(r) = ids(i)
      i += 1
    }
    val outIds = java.util.Arrays.copyOf(ids, nNodes)
    val labels = new Array[Long](nNodes)
    i = 0
    while (i < nNodes) { labels(i) = rootMin(find(i)); i += 1 }
    (outIds, labels)
  }

  /** Per-bucket star forest over the LSH band buckets of a
    * [[signedSets]] (or legacy [[shingleSets]]) relation — the
    * [[minhashLshClusterSummary]] engine: distinct `(d1, d2)`
    * connectivity edges. The bucket key is the xxhash64 of the exact
    * band signature triple — a 64-bit collision can only MERGE two
    * buckets, and every candidate pair is exact-Jaccard-verified
    * before any union, so a merge cannot create a false edge (odds
    * ~buckets²/2^64; a collision admits extra true near-dup pairs the
    * band test alone would have missed, never spurious ones).
    */
  private[graft] def minhashForestFromSets(sets: DataFrame,
      threshold: Double, numHashes: Int, rowsPerBand: Int,
      bucketCap: Int = 1 << 16): DataFrame =
    minhashForestParts(sets, threshold, numHashes, rowsPerBand,
      bucketCap)._1

  /** [[minhashForestFromSets]] plus the count of oversized buckets, so
    * eager callers ([[minhashLshClusterSummary]]) can log how many
    * were routed to the join path.
    *
    * Skew protection (VERDICT r11 #3 / ADVICE r11): buckets with more
    * than `bucketCap` members do NOT go through the single-task
    * `groupByKey` star kernel — the kernel buffers every member's
    * shingle array in one task, so a viral duplicate family at corpus
    * scale would be one executor OOM. An eager NARROW safety pass
    * (bkey longs only, off the cached set table) collects the
    * oversized bucket keys driver-side — the list is structurally
    * bounded by bandRows/bucketCap, so this is the Selection
    * counter-map pattern, not an unbounded collect. When it is empty
    * (every realistic corpus) the plan is EXACTLY the uncapped
    * operator — no tag join, no empty self-join scaffolding. Oversized
    * buckets, when they exist, run d3's spilling sort-merge self-join
    * restricted to those keys (same size-compatibility prune + exact
    * sorted-merge Jaccard), and their verified pairs union into the
    * edge stream — identical connectivity, distributed memory.
    */
  private[graft] def minhashForestParts(sets: DataFrame,
      threshold: Double, numHashes: Int, rowsPerBand: Int,
      bucketCap: Int): (DataFrame, Long) = {
    val spark = sets.sparkSession
    import spark.implicits._
    val bandsN = numHashes / rowsPerBand
    val sigs =
      if (sets.columns.contains("sig")) sets
      else sets.withColumn("sig", minhashSignature(col("sh"), numHashes))
    val bandKeys = (0 until bandsN).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        col("sig")(b * rowsPerBand + r))): _*)
    }
    val banded = sigs
      .select(col("id").cast("long").as("id"), col("nsh"), col("shd"),
        explode(array(bandKeys: _*)).as("bkey"))
      .select(col("bkey"), col("id"), col("nsh"), col("shd"))
    val bigKeys: Array[Long] = sigs
      .select(explode(array(bandKeys: _*)).as("bkey"))
      .groupBy(col("bkey")).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > bucketCap)
      .select(col("bkey")).as[Long].collect()
    val smallB =
      if (bigKeys.isEmpty) banded
      else banded.filter(!col("bkey").isInCollection(bigKeys))
    val small = smallB
      .as[(Long, Long, Int, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups((_: Long, it: Iterator[(Long, Long, Int, Array[Long])]) =>
        lshBucketStars(it, threshold))
      .toDF("d1", "d2")
    val forest =
      if (bigKeys.isEmpty) small.distinct()
      else {
        val largeB = banded.filter(col("bkey").isInCollection(bigKeys))
        val large = largeB.as("a").join(largeB.as("b"),
            col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id") &&
              least(col("a.nsh"), col("b.nsh")) >=
                greatest(col("a.nsh"), col("b.nsh")) * threshold)
          .withColumn("inter", org.apache.spark.sql.graft.SortedIntersectCount(
            col("a.shd"), col("b.shd")))
          .filter(col("inter").cast("double") /
            (col("a.nsh") + col("b.nsh") - col("inter")) >= threshold)
          .select(col("a.id").as("d1"), col("b.id").as("d2"))
        small.union(large).distinct()
      }
    (forest, bigKeys.length.toLong)
  }

  /** Per-bucket kernel of [[minhashForestFromSets]]: incremental
    * component-aware verification — each member is checked against the
    * existing components' members (until it connects to each), then one
    * star per nontrivial component rooted at its min member id.
    *
    * r16 rewrite (VERDICT r15 next #5 — the star-forest stage probe):
    * the previous kernel was a lazy-verified union-find over ALL
    * C(m,2) index pairs, so a mega-family bucket paid Omega(c^2)
    * find() probes even though only c-1 verifications ran — for a
    * 100k-member viral family that is 5e9 no-op probes in ONE task.
    * This enumeration checks member k against each existing component
    * IN MEMBER ORDER, stopping within a component on first success
    * (the rest of that component is then same-component, exactly the
    * pairs the old loop skipped); a clique family therefore costs
    * O(c) total instead of O(c^2).
    *
    * Output equivalence (exact, any check order): let R be the
    * intrinsic pair relation "passes size-compat + exact Jaccard".
    * Unions happen only on R-pairs, so the final partition refines
    * closure(R). Conversely for any (a,b) in R with a processed after
    * b: at a's turn, b sat in some component C; a checked C's members
    * in order until success — either a connected to C (so a,b share
    * the final component; components only merge) or a checked EVERY
    * member incl. b and all failed, contradicting (a,b) in R. Hence
    * the final partition IS closure(R) — the same partition the
    * all-pairs loop computes — and the emitted stars (component-min
    * roots) are digit-identical. Pinned against the retained naive
    * kernel by DedupSpec on seeded random + planted-clique buckets.
    */
  private[graft] def lshBucketStars(
      it: Iterator[(Long, Long, Int, Array[Long])],
      threshold: Double): Iterator[(Long, Long)] = {
    val (ids, verified) = lshState(it, threshold)
    starsOf(ids, incrementalComponents(ids.length, verified))
  }

  /** Shared bucket loader + verifier for the LSH star kernels (the
    * [[cellState]] analog, review r16): buffers the bucket once and
    * returns (member ids, verified(i,j)) — size-compat pre-check +
    * exact sorted-merge Jaccard. ONE definition feeds both the live
    * kernel and the retained naive kernel, so the comparison the
    * equivalence spec and the SCALE_r16 §2 foreststars measurement rest
    * on cannot silently diverge.
    */
  private def lshState(it: Iterator[(Long, Long, Int, Array[Long])],
      threshold: Double): (scala.collection.mutable.ArrayBuffer[Long],
        (Int, Int) => Boolean) = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val szs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sets = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    it.foreach { case (_, id, nsh, shd) =>
      ids += id; szs += nsh; sets += shd
    }
    def verified(i: Int, j: Int): Boolean = {
      val n1 = szs(i); val n2 = szs(j)
      if (math.min(n1, n2) < math.max(n1, n2) * threshold) return false
      val a = sets(i); val b = sets(j)
      var x = 0; var y = 0; var inter = 0
      while (x < a.length && y < b.length) {
        if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
        else if (a(x) < b(y)) x += 1 else y += 1
      }
      inter.toDouble / (n1 + n2 - inter) >= threshold
    }
    (ids, verified)
  }

  /** The component-incremental closure engine shared by the star
    * kernels ([[lshBucketStars]], [[cellStars]]): processes members in
    * order, checking member k against existing components' members
    * until it connects to each; a clique family costs O(c). The
    * equivalence proof (final partition = closure of the intrinsic
    * verified relation, regardless of check order) is on
    * [[lshBucketStars]].
    */
  private def incrementalComponents(m: Int,
      verified: (Int, Int) => Boolean)
      : scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]] = {
    val comps = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Int]]
    var k = 0
    while (k < m) {
      var joined: scala.collection.mutable.ArrayBuffer[Int] = null
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        var x = 0
        var hit = false
        while (x < c.length && !hit) {
          if (verified(k, c(x))) hit = true
          x += 1
        }
        if (hit) {
          if (joined == null) { joined = c; ci += 1 }
          else {
            // k bridges two components: fold c into joined (which must
            // stay live in comps), swap-remove c's slot; the swapped-in
            // tail element is unchecked, so do not advance ci — unless
            // the tail element WAS joined, already checked by k
            joined ++= c
            comps(ci) = comps(comps.length - 1)
            comps.dropRightInPlace(1)
            if (ci < comps.length && (comps(ci) eq joined)) ci += 1
          }
        } else ci += 1
      }
      if (joined == null) {
        comps += scala.collection.mutable.ArrayBuffer(k)
      } else joined += k
      k += 1
    }
    comps
  }

  /** (component-min id, member) stars over nontrivial components. */
  private def starsOf(ids: scala.collection.mutable.ArrayBuffer[Long],
      comps: scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]])
      : Iterator[(Long, Long)] =
    comps.iterator.filter(_.length > 1).flatMap { c =>
      var minId = Long.MaxValue
      c.foreach(i => if (ids(i) < minId) minId = ids(i))
      c.iterator.filter(i => ids(i) != minId).map(i => (minId, ids(i)))
    }

  /** The pre-r16 all-pairs lazy-verified union-find kernel — retained
    * for the equivalence spec and the paired A/B measurement
    * (SCALE_r16 §2, foreststars); not wired into any operator.
    */
  private[graft] def lshBucketStarsNaive(
      it: Iterator[(Long, Long, Int, Array[Long])],
      threshold: Double): Iterator[(Long, Long)] = {
    val (ids, verified) = lshState(it, threshold)
    val m = ids.length
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        if (find(i) != find(j) && verified(i, j))
          parent(find(j)) = find(i)
        j += 1
      }
      i += 1
    }
    val compMin = new java.util.HashMap[Int, Long]()
    i = 0
    while (i < m) {
      val r = find(i)
      if (!compMin.containsKey(r) || ids(i) < compMin.get(r))
        compMin.put(r, ids(i))
      i += 1
    }
    (0 until m).iterator.flatMap { k =>
      val root = compMin.get(find(k))
      if (ids(k) != root) Iterator.single((root, ids(k))) else Iterator.empty
    }
  }

  /** Per-document DEGREE summary of the asymmetric containment
    * relation — [[containmentPairs]] aggregated per contained doc: how
    * many containers hold it and the max containment.
    *
    * Honest scale scope (VERDICT r11 #2): this is OUTPUT compression,
    * not compute relief. Candidate generation and exact verification
    * are [[containmentPairs]]'s own — by construction this can never
    * cost less compute than the pair report; what it removes is the
    * Omega(family^2) pair OUTPUT (the partial count/max folds pair
    * rows away before the final shuffle), which is what matters when
    * the report would be written or re-shuffled downstream at corpus
    * scale. For a near-dup consumer that needs cluster-shaped relief
    * on the COMPUTE side too, the scale path is the star-forest /
    * summary family ([[minhashLshClusterSummary]], [[simhashForest]])
    * or the symmetric [[ngramJaccardDegree]] whose prefix-filtered
    * join is the cheaper candidate generator at equal threshold.
    */
  def containmentDegree(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      maxCandidatePairs: Long = 1L << 28): DataFrame =
    containmentDegreeOf(
      containmentPairs(df, idCol, textCol, threshold, n, maxCandidatePairs))

  private def containmentDegreeOf(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).as("n_containers"),
        max(col("containment")).as("max_containment"))

  /** Per-document near-dup DEGREE over the exact n-gram Jaccard pair
    * graph — [[ngramJaccardPairs]]'s linear-output sibling: each doc's
    * verified-partner count and max similarity, aggregated map-side
    * from both directions of the symmetric pair set. Docs with no
    * qualifying partner emit nothing (mirroring the pair report).
    */
  def ngramJaccardDegree(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3,
      maxCandidatePairs: Long = 1L << 28): DataFrame =
    jaccardDegreeOf(
      ngramJaccardPairs(df, idCol, textCol, threshold, n, maxCandidatePairs))

  private def jaccardDegreeOf(pairs: DataFrame): DataFrame =
    // symmetrize with a per-row explode, not a self-union: the union
    // form reads the verified join twice (or forces a cache)
    pairs
      .select(explode(array(
        struct(col("d1").as("doc_id"), col("jac")),
        struct(col("d2").as("doc_id"), col("jac")))).as("e"))
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"), max(col("e.jac")).as("max_jac"))

  /** Deterministic uniform document-sample predicate: keep rows whose
    * seeded 60-bit MD5 id hash ([[graft.functions.Hashing.hash60]],
    * its own seed lane 97 — disjoint from the minhash/simhash lanes)
    * lands in residue 0 of `rateInv` classes, i.e. an inclusion
    * probability of 1/rateInv that every engine reproduces
    * bit-for-bit (the DuckDB oracle mirrors the same md5-hex-prefix
    * arithmetic). Hash-based, not `id % rateInv`: sequential or
    * block-allocated ids would make a modulus sample systematically
    * biased (e.g. one generator replica per residue class).
    */
  private[graft] def sampleKeep(idCol: String, rateInv: Int): Column =
    pmod(graft.functions.Hashing.hash60(col(idCol).cast("string"), 97)
      .cast("long"), lit(rateInv)) === 0

  /** SAMPLED near-dup degree — [[ngramJaccardDegree]] computed over a
    * deterministic uniform 1/`rateInv` document sample: the COMPUTE
    * relief the exact pair family cannot give (VERDICT r14 rubric:
    * d2/d14/d16/d17 are refusal-guarded at viral density because their
    * own statement is Omega(family^2)). Sampling both pair endpoints
    * scales every family's candidate AND verified pair volume by
    * 1/rateInv^2 — two full decades of duplicate-density headroom at
    * rateInv=10 — while keeping the estimate rigorous:
    *
    *  - `n_neighbors` is the doc's EXACT verified degree within the
    *    sample; conditional on the doc being sampled, each true
    *    neighbor survives independently with p = 1/rateInv, so
    *    `est_n_neighbors = n_neighbors * rateInv` is unbiased for the
    *    true degree (binomial thinning).
    *  - `max_jac` is exact over the surviving partners, hence a lower
    *    bound of the true max similarity.
    *
    * Docs outside the sample (or with no surviving partner) emit
    * nothing — a degree SURVEY, not a per-doc lookup; for bounded
    * per-doc answers at full coverage use [[minhashLshTopK]]. The
    * [[refuseIfViral]] pre-flight still runs on the sampled relation,
    * so a family dense enough to swamp even the thinned join still
    * refuses rather than spilling.
    */
  def sampledJaccardDegree(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, rateInv: Int, n: Int = 3,
      maxCandidatePairs: Long = 1L << 28): DataFrame = {
    require(rateInv >= 1, s"rateInv must be >= 1, got $rateInv")
    // probe-free inner statement (r16): the corpus is already thinned
    // by the caller's deliberate rate choice — the sampled pre-flight
    // would pay a second full scan at a filter-blind rate; the exact
    // census (now over 1/rateInv of the corpus, cheap) still gates
    jaccardDegreeOf(ngramJaccardPairsImpl(
        df.where(sampleKeep(idCol, rateInv)), idCol, textCol, threshold,
        n, maxCandidatePairs, sampledProbe = false))
      .withColumn("est_n_neighbors", col("n_neighbors") * lit(rateInv.toLong))
  }

  /** SAMPLED containment degree — [[containmentDegree]] over the same
    * deterministic uniform 1/`rateInv` sample as
    * [[sampledJaccardDegree]] (one shared residue class, so the two
    * surveys describe the same sub-corpus). The asymmetric analog:
    * conditional on a contained doc being sampled, each of its true
    * containers survives independently with p = 1/rateInv, so
    * `est_n_containers = n_containers * rateInv` is unbiased and
    * `max_containment` an exact lower bound.
    */
  def sampledContainmentDegree(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, rateInv: Int, n: Int = 3,
      maxCandidatePairs: Long = 1L << 28): DataFrame = {
    require(rateInv >= 1, s"rateInv must be >= 1, got $rateInv")
    // probe-free inner statement — see sampledJaccardDegree
    containmentDegreeOf(containmentPairsImpl(
        df.where(sampleKeep(idCol, rateInv)), idCol, textCol, threshold,
        n, maxCandidatePairs, sampledProbe = false))
      .withColumn("est_n_containers", col("n_containers") * lit(rateInv.toLong))
  }

  /** SAMPLED embedding near-dup pairs — [[embeddingDupPairs]] over the
    * same deterministic uniform 1/`rateInv` sample family as
    * [[sampledJaccardDegree]] (seed-97 residue class on the id): the
    * compute-relief path for the embedding pair report, whose exact
    * form refuses at viral density ([[refuseIfViralCells]]). Sampling
    * both endpoints scales a concentrated family's within-cell pair
    * volume by 1/rateInv^2 — including the worst cell the pre-flight
    * measures, so a corpus that refuses exact can answer sampled.
    *
    * '''Thinned-view contract (r16):''' the IVF structure — cell count
    * AND centroid seed — comes from the FULL corpus (which this
    * operator receives pre-thin), so the sample is assigned under
    * exactly the index the exact statement uses. The output is
    * therefore EXACTLY the exact run's pair set restricted to pairs
    * with both endpoints sampled (a DedupSpec set-equality assertion),
    * per-pair survival is exactly 1/rateInv^2 for every
    * exact-visible pair — the same rigor as the text-side sampled
    * degrees — and per-cell occupancy is the exact run's ~4096 target
    * divided by rateInv.
    *
    * History of the contract (r16, the fidelity and boundary
    * probes of SCALE_r16 §2b): the operator originally
    * re-derived the IVF on the sub-corpus and carried a documented
    * "borderline cross-cell pairs thin unpredictably" caveat. The
    * first fidelity pass read recall 1.0000 at every scale and
    * severity — and the boundary probe showed WHY: assignCells' old
    * `id < ncells` seed collapsed on the thinned frame to
    * ~ncells/rateInv centroids, a ~1-cell index that co-located
    * everything (trivial recall, and a ~rateInv× occupancy blow-up in
    * the within-cell join — 146.6 -> 20.5 s on the sf10 viral corpus
    * once fixed). With the seed fixed, the honestly re-derived index
    * measured same-cell recall 0.80 (natural sf10) and 0.41
    * (adversarial planted borderline corpus) — real, unpredictable
    * loss. Seeding from the full corpus removes the caveat instead of
    * quantifying it.
    */
  def sampledEmbeddingDupPairs(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, rateInv: Int, ncells: Int = 0,
      maxCandidatePairs: Long = 1L << 28): DataFrame = {
    require(rateInv >= 1, s"rateInv must be >= 1, got $rateInv")
    // the FULL corpus decides both the cell count and the centroid
    // seed (r16 thinned-view contract — see the scaladoc): the sample
    // is assigned under exactly the index the exact statement uses, so
    // its per-cell occupancy is the exact run's divided by rateInv and
    // its pairs are exactly the exact run's with both endpoints
    // sampled
    val cells =
      if (ncells > 0) ncells
      else graft.sim.Similarity.autoCells(df, idCol)
    embeddingDupPairsImpl(df.where(sampleKeep(idCol, rateInv)), idCol,
      vecCol, threshold, cells, maxCandidatePairs, seedFrom = df)
  }

  /** Bounded-output near-dup REPORT — each doc's top-k verified
    * partners by exact Jaccard over the MinHash-LSH candidate relation
    * ([[minhashLshPairs]]' graph, symmetrized): the pair-level answer
    * a user still gets at viral duplicate density, where the FULL pair
    * report is refused ([[PairVolumeException]]) or dies by
    * construction. Output is <= k rows per doc regardless of family
    * sizes, and the ranking runs through the bounded per-group heap
    * operator ([[org.apache.spark.sql.graft.TopKPerGroup]]) — one
    * exchange of slim (doc, partner, jac) rows, no partition-sized
    * sort buffer, nothing pair-volume shuffles after verification.
    * The LSH front-end is why this completes where d2's exact prefix
    * join cannot: band collisions at high thresholds prune
    * sub-threshold candidates structurally (SCALE_r12: d3 25.9 s at
    * sf10 where d2 aborted).
    *
    * Ordering is total per group — ties on jac break to the lower
    * partner id (the TopKPerGroup tie discipline).
    */
  def minhashLshTopK(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int, numHashes: Int = 12,
      rowsPerBand: Int = 3, n: Int = 3): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, threshold,
      numHashes, rowsPerBand, n)
    val sym = pairs.select(explode(array(
        struct(col("d1").as("doc_id"), col("d2").as("partner"), col("jac")),
        struct(col("d2").as("doc_id"), col("d1").as("partner"), col("jac")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.partner").as("partner"),
        col("e.jac").as("jac"))
    org.apache.spark.sql.graft.TopKPerGroup(sym, k, Seq(col("doc_id")),
      Seq(col("jac").desc, col("partner").asc))
  }

  /** 60-bit SimHash of one text: majority vote per bit over token
    * hashes, token multiplicity counted; the token hash is the same
    * seeded-MD5 60-bit family as [[graft.functions.Hashing.hash60]]
    * (seed 0), so the DuckDB oracle reproduces every bit.
    */
  def simhashKernel(text: String): Long = {
    val toks = (if (text == null) "" else text)
      .toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    // same byte stream as the former ("0:" + tok) concat + hex parse —
    // values bit-identical (see be60)
    val prefix = "0:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    toks.foreach { tok =>
      md.update(prefix)
      md.update(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hv = be60(md.digest(), 0)
      var j = 0
      while (j < 60) {
        if (((hv >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    var sim = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) sim |= 1L << j; j += 1 }
    sim
  }

  /** 60-bit SimHash per row — a compiled map-only kernel: no token
    * explode, no shuffle (the former explode + groupBy + 60 conditional
    * sums moved the whole token table through an exchange to rebuild
    * per-document state this kernel keeps in registers). Values are
    * bit-identical to the aggregation form and to the DuckDB oracle.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val k0 = udf((t: String) => simhashKernel(t))
    // batch: nondeterministic marker + parallelized() keep the kernel on
    // the full thread pool (see signedSets); streaming callers keep the
    // plain deterministic project (stateful-op analysis forbids the rest)
    val k = if (df.isStreaming) k0 else k0.asNondeterministic()
    parallelized(df.select((col(idCol) +: carryCols.map(col)) :+
        col(textCol).as("__t"): _*))
      .select((col(idCol) +: carryCols.map(col)) :+
        k(col("__t")).as("simhash"): _*)
  }

  /** (id, simhash, band, bits) — the shared Hamming-LSH band expansion
    * behind [[simhashPairs]] and [[simhashAssign]]: maxHamming+1 bands
    * over the 60-bit signature, the first 60 % nBands bands one bit
    * wider. NOT cached: the lazy public operators built on it cannot
    * know when their result is materialized, so an implicit cache here
    * would leak a band table per invocation for the session lifetime
    * (ADVICE r5). Consumers that read it twice recompute a narrow
    * map-only explode; a caller whose `sim0` is expensive should cache
    * `sim0` itself — bands× less memory than caching this expansion,
    * and the caller owns the lifetime.
    */
  private[graft] def bandedSimhash(sim0: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val base = 60 / nBands
    val extra = 60 % nBands // first `extra` bands get one more bit
    val offsets = (0 until nBands).scanLeft(0)((acc, b) =>
      acc + base + (if (b < extra) 1 else 0))
    val bandCols = (0 until nBands).map { b =>
      val width = base + (if (b < extra) 1 else 0)
      struct(lit(b).as("band"),
        shiftright(col("simhash"), offsets(b))
          .bitwiseAND(lit((1L << width) - 1)).as("bits"))
    }
    sim0.select(col(idCol), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("simhash"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
  }

  private def pairsFromBanded(banded: DataFrame, idCol: String,
      maxHamming: Int): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .distinct()
      .withColumn("ham", expr("bit_count(h1 ^ h2)").cast("long"))
      .filter(col("ham") <= maxHamming)
      .select(col("d1"), col("d2"), col("ham"))

  /** SimHash near-dup pairs by Hamming radius, blocked with
    * Hamming-LSH banding (the sorted-table scheme of Manku et al.,
    * WWW'07, expressed as a bucket join): the 60-bit signature splits
    * into maxHamming+1 bands, and by pigeonhole any pair within the
    * radius agrees exactly on at least one band — so joining on
    * (band index, band bits) has recall 1.0 and the verifier only sees
    * bucket-mates. Band-bucket cardinality scales with the corpus
    * (2^bandBits buckets per band, uniformly filled for hash-like
    * signatures), unlike blocking on a low-cardinality attribute.
    *
    * A pair agreeing on several bands surfaces once per band; the
    * pre-verify distinct collapses them.
    */
  def simhashPairs(sim0: DataFrame, idCol: String, maxHamming: Int): DataFrame =
    pairsFromBanded(bandedSimhash(sim0, idCol, maxHamming), idCol, maxHamming)

  /** Linear-OUTPUT near-dup connectivity forest — the scale-safe
    * replacement for [[simhashPairs]]'s all-verified-pairs emission
    * when the pairs are consumed for CONNECTIVITY (clustering,
    * keep/drop) rather than pair-level inspection.
    *
    * Within each Hamming-LSH `(band, bits)` bucket, the verified-pair
    * graph (bucket-mates at Hamming <= maxHamming) is resolved into
    * components by a per-bucket union-find, and each component emits a
    * STAR — `(component min id, member id)` for every other member —
    * instead of all its pairs. Two facts make this exact for closure:
    * by pigeonhole every verified pair shares at least one bucket, and
    * within a bucket the star spans exactly the verified component; so
    * the UNION of bucket stars has the same connected components as
    * the union of all verified pairs, and [[simhashClusters]] built on
    * it is bit-identical to one built on [[simhashPairs]].
    *
    * Cost shape: a duplicate clique of c docs costs the bucket join
    * c(c-1)/2 shuffled+materialized rows (the sf1 stress's d5 x13
    * blow-up), but costs this operator c-1 output rows. Verification
    * compute stays O(k^2) popcounts per bucket of k members — the same
    * work the join's post-filter did, in the same per-bucket task the
    * hash shuffle already co-locates — with one extra collapse the
    * join cannot do: members with IDENTICAL signatures (replication
    * cliques) are grouped first, so the pairwise sweep runs over
    * DISTINCT signatures only. Memory is O(k) per bucket (the group is
    * drained into one array per task), not O(pairs).
    *
    * Output: distinct `(d1, d2)` with `d1 < d2` (`d1` is always the
    * component min). Star edges are connectivity witnesses, not
    * verified pairs — `d1`/`d2` may sit farther than maxHamming apart
    * — so no `ham` column (see [[simhashPairs]] for pair-level
    * distances).
    */
  def simhashForest(sim0: DataFrame, idCol: String, maxHamming: Int,
      bucketCap: Int = 1 << 20): DataFrame = {
    // default cap 2^20: a simhash bucket member is 3 longs (~24 MB per
    // million members buffered in one task — no OOM exposure, unlike
    // the minhash forest whose members carry whole shingle arrays),
    // and below the cap the recursive sub-banding kernel
    // ([[bucketStars]]) is far cheaper than the quadratic self-join
    // fallback: the sf10 probe measured the 102k-member mega-bucket at
    // ~34 s through the join vs ~3 s through the kernel.
    val spark = sim0.sparkSession
    import spark.implicits._
    // NOT cached (the no-cache-residue contract of the simhash family):
    // the eager bucket-size safety pass below recomputes the banded
    // expansion once; a caller who wants to amortize should cache sim0
    val banded = bandedSimhash(sim0, idCol, maxHamming)
      .select(col("band"), col("bits"),
        col(idCol).cast("long").as("id"), col("simhash"))
    // skew protection (the minhashForestParts scheme): buckets over
    // bucketCap skip the single-task star kernel and run a spilling
    // self-join instead — identical connectivity (verified pairs are a
    // superset of the stars' witness set over the same component
    // structure), distributed memory. The eager NARROW safety pass
    // collects the oversized (band, bits) keys driver-side — bounded
    // by bandRows/bucketCap — so when the list is empty (every
    // realistic corpus) the plan is EXACTLY the uncapped operator; at
    // default cap the small-bucket path emits bit-identical rows, so
    // the d5 oracle is unchanged.
    val bigKeys: Array[(Int, Long)] = banded
      .groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > bucketCap)
      .select(col("band").cast("int"), col("bits")).as[(Int, Long)]
      .collect()
    def inBig = bigKeys.map { case (bd, bt) =>
      col("band") === bd && col("bits") === bt
    }.reduce(_ || _)
    val smallB = if (bigKeys.isEmpty) banded else banded.filter(!inBig)
    val small = smallB
      .select(col("band"), col("bits"), col("id"), col("simhash"))
      .as[(Int, Long, Long, Long)]
      .groupByKey { case (band, bits, _, _) => (band, bits) }
      .flatMapGroups((_: (Int, Long), it: Iterator[(Int, Long, Long, Long)]) =>
        bucketStars(it, maxHamming))
      .toDF("d1", "d2")
    if (bigKeys.isEmpty) small.distinct()
    else {
      val largeB = banded.filter(inBig)
        .select(col("band"), col("bits"), col("id"), col("simhash"))
      val large = largeB.as("a").join(largeB.as("b"),
          col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
            col("a.id") < col("b.id"))
        .filter(expr("bit_count(a.simhash ^ b.simhash)") <= maxHamming)
        .select(col("a.id").as("d1"), col("b.id").as("d2"))
      small.union(large).distinct()
    }
  }

  /** Per-bucket kernel of [[simhashForest]]: union-find over the
    * bucket's DISTINCT signatures (identical-signature members are
    * Hamming-0 mates, pre-collapsed into one node), then one star per
    * nontrivial component rooted at the component's min member id.
    *
    * Large-bucket compute guard (SCALE_r12): the band key carries only
    * 60/(maxHamming+1) bits, so the bucket population grows LINEARLY
    * with the corpus while the all-pairs check grows quadratically —
    * the sf1->sf10 probe measured 122x per 10x decade through this
    * kernel. Buckets above `RecursePairwiseLimit` distinct signatures
    * therefore sub-band RECURSIVELY over the still-unconstrained bits:
    * a qualifying pair differs in <= maxHamming of those bits, so by
    * the same pigeonhole as the top-level banding it agrees exactly on
    * at least one of maxHamming+1 chunks and survives into that
    * chunk's subgroup — connectivity is preserved while diffuse
    * mega-buckets split geometrically. Tight near-duplicate families
    * (groups a chunk cannot split) short-circuit to the pairwise
    * lazy-union-find, which costs only c-1 verifications on a clique;
    * if a chunk leaves the whole group intact every qualifying pair
    * co-groups there, so the remaining chunks are skipped outright.
    * Oracle-scale buckets sit far below the limit — emissions there
    * are bit-identical to the unguarded kernel.
    */
  private val RecursePairwiseLimit = 512

  private[graft] def bucketStars(it: Iterator[(Int, Long, Long, Long)],
      maxHamming: Int): Iterator[(Long, Long)] = {
    // distinct signature -> index; per signature: min member id + ids
    val sigIdx = new java.util.HashMap[Long, Int]()
    val sigs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val members = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    var band = -1
    it.foreach { case (b, _, id, sim) =>
      band = b
      val j = sigIdx.computeIfAbsent(sim, _ => {
        sigs += sim
        members += scala.collection.mutable.ArrayBuffer.empty[Long]
        sigs.length - 1
      })
      members(j) += id
    }
    val n = sigs.length
    if (n == 0) return Iterator.empty

    // ONE union-find over the bucket's distinct signatures, SHARED by
    // every recursive sub-call: the recursion only decides WHICH pairs
    // get an exact Hamming verification; star emission happens once at
    // the end from the bucket-level components. (An earlier form
    // emitted stars inside each sub-call — connectivity was preserved
    // but a component spanning several subgroups emitted one star set
    // PER subgroup, diverging from the one-star-per-bucket-component
    // contract the d5 oracle states: sf0.1 check, 11,071 rows vs
    // 7,720.)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    // lazy pairwise verification over a set of signature nodes: exact
    // Hamming check only for still-disconnected pairs, unions into the
    // shared bucket-level forest
    def pairwise(idxs: Array[Int]): Unit = {
      val m = idxs.length
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          if (find(idxs(i)) != find(idxs(j)) &&
              java.lang.Long.bitCount(sigs(idxs(i)) ^ sigs(idxs(j))) <= maxHamming)
            parent(find(idxs(j))) = find(idxs(i))
          j += 1
        }
        i += 1
      }
    }

    // the top-level band already pins this bucket's band-bit range
    val nBands = maxHamming + 1
    val base = 60 / nBands
    val extra = 60 % nBands
    val offsets = (0 until nBands).scanLeft(0)((acc, b) =>
      acc + base + (if (b < extra) 1 else 0))
    val width = base + (if (band < extra) 1 else 0)
    val bandMask = ((1L << width) - 1) << offsets(band)

    def rec(idxs: Array[Int], mask: Long, depth: Int): Unit = {
      if (idxs.length <= RecursePairwiseLimit || depth >= 8) {
        pairwise(idxs); return
      }
      val free = (0 until 60).filter(b => ((mask >> b) & 1L) == 0L)
      if (free.length < nBands) { pairwise(idxs); return }
      val chunkBase = free.length / nBands
      val chunkExtra = free.length % nBands
      var start = 0
      var c = 0
      var done = false
      while (c < nBands && !done) {
        val sz = chunkBase + (if (c < chunkExtra) 1 else 0)
        val cmask = free.slice(start, start + sz)
          .foldLeft(0L)((a, b) => a | (1L << b))
        start += sz
        val groups = idxs.groupBy(i => sigs(i) & cmask)
        groups.valuesIterator.foreach { g =>
          if (g.length >= 2) {
            if (g.length == idxs.length) {
              // the chunk split nothing: every qualifying pair
              // co-groups here — handle once, skip remaining chunks
              pairwise(g)
              done = true
            } else rec(g, mask | cmask, depth + 1)
          }
        }
        c += 1
      }
    }

    rec(Array.tabulate(n)(identity), bandMask, 0)
    // one star per nontrivial bucket-level component, rooted at the
    // component's min member id — identical to the unguarded kernel
    val compMin = new java.util.HashMap[Int, Long]()
    var i = 0
    while (i < n) {
      val r = find(i)
      val mn = members(i).min
      if (!compMin.containsKey(r) || mn < compMin.get(r)) compMin.put(r, mn)
      i += 1
    }
    (0 until n).iterator.flatMap { k =>
      val root = compMin.get(find(k))
      members(k).iterator.filter(_ != root).map(id => (root, id))
    }
  }

  /** Linear-output near-dup ASSIGNMENT: each document gets at most one
    * canonical representative (the smallest-id verified bucket
    * representative across its simhash bands) instead of the full pair
    * enumeration of [[simhashPairs]]. Pair enumeration is Omega(output)
    * — a duplicate clique of c docs emits c(c-1)/2 pairs (the sf1
    * stress run's d5 x73 — SCALE_r05.md) — but a keep/drop pipeline
    * only needs one canonical per doc. Here every banded row joins
    * exactly ONE representative row (the per-bucket min id, a
    * partial-aggregatable min_by), so the join output is (bands x n)
    * rows whatever the clique structure: cliques cost the same as
    * singletons.
    *
    * Semantics (documented trade-off): one-hop banding assignment, not
    * transitive closure — `canonical` is guaranteed to be a true
    * Hamming<=maxHamming neighbor with a smaller id (sound), but a doc
    * whose bucket representatives all verify outside the radius gets no
    * assignment even if some non-representative neighbor exists
    * (incomplete, unlike the pigeonhole-complete pair enumeration).
    */
  def simhashAssign(sim0: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val banded = bandedSimhash(sim0, idCol, maxHamming)
    val reps = banded.groupBy("band", "bits")
      .agg(min_by(struct(col(idCol), col("simhash")), col(idCol)).as("r"))
      .select(col("band"), col("bits"),
        col(s"r.$idCol").as("rep"), col("r.simhash").as("rep_sim"))
    banded.join(reps, Seq("band", "bits"))
      .filter(col("rep") < col(idCol))
      .withColumn("ham",
        expr("bit_count(simhash ^ rep_sim)").cast("long"))
      .filter(col("ham") <= maxHamming)
      .groupBy(col(idCol))
      .agg(min_by(struct(col("rep"), col("ham")), col("rep")).as("m"))
      .select(col(idCol), col("m.rep").as("canonical"), col("m.ham").as("ham"))
  }

  /** Per-snapshot EXACT-dedup index: one row per distinct content
    * fingerprint with the smallest holder id — the artifact an
    * incremental pipeline maintains so admitting tomorrow's increment
    * never rescans today's corpus (see [[incrementalDedup]]). Updating
    * it after an admission is `union + groupBy min` — the same shape.
    */
  def exactIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(coalesce(col(textCol), lit(""))).as("fp"))
      .agg(min(col(idCol)).as("base_id"))

  /** Per-snapshot NEAR-dup index: the per-(band, bits) minimum-id
    * representative (with its signature) over the corpus — the d8
    * representative table, persisted. One row per occupied bucket
    * (collapses under cliques), incrementally maintainable by the same
    * `union + per-bucket min_by`. Store it bucketed by (band, bits)
    * ([[graft.functions.ScaleJoins.writeBucketed]]) and the increment
    * join below needs no index-side shuffle.
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    bandedSimhash(simhash(docs, idCol, textCol), idCol, maxHamming)
      .groupBy("band", "bits")
      .agg(min_by(struct(col(idCol), col("simhash")), col(idCol)).as("r"))
      .select(col("band"), col("bits"),
        col(s"r.$idCol").as("rep"), col("r.simhash").as("rep_sim"))

  /** d11: INCREMENTAL dedup — classify a new increment against an
    * existing corpus touching ONLY the increment and the two maintained
    * index tables ([[exactIndex]], [[bandIndex]]), never the corpus
    * text itself. This is the production shape at 100 TB: the daily
    * increment is orders of magnitude smaller than the corpus, and
    * re-running the full d10 chain over corpus+increment would pay the
    * whole corpus's shuffle again for a sliver of new data.
    *
    * Classification, in priority order (every id appears exactly once):
    *  - `exact_base`: fingerprint already in the corpus -> canonical =
    *    the corpus holder (fp-equality join against the exact index).
    *  - `exact_inc`: fingerprint duplicated WITHIN the increment ->
    *    the smallest id survives, later copies point at it.
    *  - `near_base`: a surviving doc whose signature verifies within
    *    `maxHamming` of a base bucket representative -> canonical =
    *    the smallest verifying base rep (base wins over inc: the
    *    corpus copy is the established one, whatever its id).
    *  - `near_inc`: otherwise, the d8 one-hop assignment WITHIN the
    *    increment's survivors (smaller-id verified rep).
    *  - `new`: none of the above — admit (canonical/ham null).
    *
    * One-hop near-dup semantics are d8's, inherited index-side: sound
    * (every canonical is a verified neighbor), not transitive closure.
    * Output: (id, status, canonical, ham), ham 0 for exact statuses.
    */
  def incrementalDedup(inc: DataFrame, idCol: String, textCol: String,
      baseExact: DataFrame, baseBands: DataFrame,
      maxHamming: Int): DataFrame =
    incrementalDedupImpl(inc, idCol, textCol, baseExact, baseBands,
      maxHamming,
      windowMin = !inc.isStreaming &&
        graft.ScanBytes.of(inc) >= (1L << 24))

  /** [[incrementalDedup]] with the within-increment-minimum arm
    * switchable, so the equivalence spec can drive both on one frame.
    */
  private[graft] def incrementalDedupImpl(inc: DataFrame, idCol: String,
      textCol: String, baseExact: DataFrame, baseBands: DataFrame,
      maxHamming: Int, windowMin: Boolean): DataFrame = {
    val incFp = inc
      .select(col(idCol), col(textCol),
        md5(coalesce(col(textCol), lit(""))).as("fp"))
    // within-increment exact minimum as a WINDOW over the fp exchange
    // (r18, guide §2.4): the former separate `groupBy(fp).min` +
    // join-back subtree re-scanned the increment and re-ran the md5
    // fingerprint a second time per cache build (the r17 d11 plan's
    // duplicated increment scans); the window reads its single child
    // once, and its fp-clustering is exactly what the index join keys
    // on anyway. GATED on the increment's actual scan bytes (the
    // pairGuard floor): below it the duplicate scan+md5 runs as a
    // parallel broadcast-future off the critical path and the window's
    // serial exchange+sort measurably LOSES (refbench r18: d11 ~+0.5 s
    // paired at sf0.1), above it a second full md5 pass over the
    // increment is the cost that matters. Both arms are row-identical
    // (window min == groupBy min joined back on the key; DedupSpec).
    val incMin =
      if (windowMin)
        incFp.withColumn("inc_min",
          min(col(idCol)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      else
        incFp.join(incFp.groupBy(col("fp"))
          .agg(min(col(idCol)).as("inc_min")), Seq("fp"))
    // exact stage: one fp-keyed join against the index. Cached (the d2
    // precedent — Verify/Bench clear per query, pipelines own
    // clearCache): `tagged` feeds the survivor filter AND the final
    // classification, `survSim` feeds BOTH near-dup branches — without
    // the caches each consumer re-runs the exact-stage joins and the
    // signature kernel.
    val tagged = incMin
      .join(baseExact, Seq("fp"), "left")
      .cache()
    // survivors carry their text forward for the one signature pass
    val survivors = tagged
      .filter(col("base_id").isNull && col(idCol) === col("inc_min"))
      .select(col(idCol), col(textCol))
    val survSim = simhash(survivors, idCol, textCol).cache()
    val banded = bandedSimhash(survSim, idCol, maxHamming)
    // near vs base: bucket-equality against the index; base reps match
    // regardless of id order
    val nearBase = banded.join(baseBands, Seq("band", "bits"))
      .withColumn("ham", expr("bit_count(simhash ^ rep_sim)").cast("long"))
      .filter(col("ham") <= maxHamming)
      .groupBy(col(idCol))
      .agg(min_by(struct(col("rep"), col("ham")), col("rep")).as("mb"))
      .select(col(idCol), col("mb.rep").as("b_canon"), col("mb.ham").as("b_ham"))
    // near within the increment: the standard d8 one-hop assignment
    val nearInc = simhashAssign(survSim, idCol, maxHamming)
      .select(col(idCol), col("canonical").as("i_canon"), col("ham").as("i_ham"))
    tagged
      .join(nearBase, Seq(idCol), "left")
      .join(nearInc, Seq(idCol), "left")
      .select(col(idCol),
        when(col("base_id").isNotNull, lit("exact_base"))
          .when(col(idCol) =!= col("inc_min"), lit("exact_inc"))
          .when(col("b_canon").isNotNull, lit("near_base"))
          .when(col("i_canon").isNotNull, lit("near_inc"))
          .otherwise(lit("new")).as("status"),
        when(col("base_id").isNotNull, col("base_id"))
          .when(col(idCol) =!= col("inc_min"), col("inc_min"))
          .when(col("b_canon").isNotNull, col("b_canon"))
          .otherwise(col("i_canon")).as("canonical"),
        when(col("base_id").isNotNull || col(idCol) =!= col("inc_min"), lit(0L))
          .when(col("b_canon").isNotNull, col("b_ham"))
          .otherwise(col("i_ham")).as("ham"))
  }

  /** Connected components of an undirected pair list `(d1, d2)` by
    * iterative min-label propagation (the Pregel/large-star shape as a
    * driver-coordinated DataFrame loop — each sweep is one shuffle join
    * + one partial-aggregatable min; iterations bound the graph
    * diameter, tiny for near-dup cliques). Returns `(id, label)` with
    * `label` = the min id of the node's whole component, for every node
    * that appears in a pair.
    *
    * Each sweep materializes through `sweep` (see [[SweepCheckpoint]]):
    * localCheckpoint for single-box runs, a reliable checkpoint or an
    * explicit parquet round-trip for clusters, where a lost executor
    * must be able to re-read the sweep table. Throws
    * [[ConvergenceException]] when the component diameter exceeds
    * `maxIter` — a named, catchable failure, because "increase the
    * budget and re-run" is a caller decision.
    *
    * `resumeFrom` restarts the loop from the last completed sweep
    * table under the given directory (the [[SweepCheckpoint.Table]]
    * artifact an interrupted run — [[ConvergenceException]] or a
    * driver crash — left behind): the initial label table is READ from
    * `sweep_<maxIdx>` instead of being rebuilt from the edge set, and
    * `maxIter` budgets the REMAINING sweeps. The pair table must be
    * the same one the interrupted run used (labels for nodes absent
    * from it would go stale; new nodes would go unlabeled).
    */
  def connectedComponents(pairs0: DataFrame, maxIter: Int = 25,
      sweep: SweepCheckpoint = SweepCheckpoint.Local,
      resumeFrom: Option[String] = None): DataFrame = {
    // cached: the symmetric union below reads the pair table twice, and
    // without the cache each branch re-runs whatever candidate join
    // produced the pairs — typically the most expensive upstream stage
    val pairs = pairs0.select(col("d1"), col("d2")).cache()
    val edges = pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .withColumnRenamed("d1", "src").withColumnRenamed("d2", "dst")
      .cache()
    val spark = pairs0.sparkSession
    var idx = 0
    // the sweep index `labels` is ACTUALLY materialized at — updated
    // only after sweepMaterialize returns, so the failure path frees
    // the table that exists, not the one that failed to be written
    // (ADVICE r6: freeing `idx` after a failed materialize deleted the
    // next, never-written sweep and stranded the one backing `labels`)
    var labelsIdx = 0
    var labels: DataFrame = null
    try {
      resumeFrom match {
        case Some(dir) =>
          val (ri, path) = latestSweep(spark, dir).getOrElse(
            throw new IllegalArgumentException(
              s"resumeFrom: no completed sweep_<i> table under $dir"))
          idx = ri
          labelsIdx = ri
          labels = spark.read.parquet(path)
          pairs.unpersist()
        case None =>
          labels = sweepMaterialize(
            edges.select(col("src").as("id")).distinct()
              .withColumn("label", col("id")), sweep, idx)
          labelsIdx = idx
          // the initial materialization ran the edges cache, which is
          // the only consumer of pairs — free it before the sweeps so
          // the loop's working set is just edges + two label tables
          pairs.unpersist()
      }
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val prev = labels
        val prevIdx = labelsIdx
        val propagated = edges
          .join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("label"))
        idx += 1
        labels = sweepMaterialize(
          labels.select(col("id"), col("label"))
            .union(propagated)
            .groupBy("id").agg(min(col("label")).as("label")), sweep, idx)
        labelsIdx = idx
        changed = labels.join(prev.withColumnRenamed("label", "old"), "id")
          .filter(col("label") < col("old")).count()
        sweepFree(prev, sweep, prevIdx)
        iter += 1
      }
      if (changed != 0) {
        val resumeDir = sweep match {
          case SweepCheckpoint.Table(dir) => Some(dir)
          case _ => None
        }
        throw new ConvergenceException(maxIter,
          s"connected components did not converge in $maxIter sweeps " +
            s"($changed labels still improving); the graph diameter " +
            "exceeds the sweep budget — raise maxIter" +
            resumeDir.fold("")(d =>
              s" (last sweep kept under $d — resumeFrom continues there)"),
          resumeDir)
      }
      labels.select(col("id"), col("label"))
    } catch {
      case ce: ConvergenceException if ce.resumeDir.isDefined =>
        // Table mode non-convergence: the last completed sweep IS the
        // resume artifact — keep it (documented on SweepCheckpoint)
        throw ce
      case scala.util.control.NonFatal(e) =>
        // the caller never receives a result, so the "last sweep lives
        // until the caller is done" cleanup path cannot run — free the
        // sweep backing `labels` (for Table: delete the stranded
        // parquet dir, which would otherwise accumulate across
        // retries); if the FAILURE was a partial sweep write
        // (idx advanced past labelsIdx), best-effort delete that
        // partial output too, and rethrow
        if (labels != null)
          try sweepFree(labels, sweep, labelsIdx)
          catch { case scala.util.control.NonFatal(_) => () }
        sweep match {
          case SweepCheckpoint.Table(_) if idx != labelsIdx =>
            try deleteSweepDir(spark, sweep, idx)
            catch { case scala.util.control.NonFatal(_) => () }
          case _ => ()
        }
        throw e
    } finally {
      // safe on any path: unpersist is idempotent, and the returned
      // labels are materialized so they no longer depend on these
      edges.unpersist()
      pairs.unpersist()
    }
  }

  /** Highest completed (`_SUCCESS`-marked) `sweep_<i>` table under
    * `dir`, as (index, path).
    */
  private def latestSweep(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Int, String)] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) None
    else {
      val pat = "sweep_(\\d+)".r
      val done = fs.listStatus(base).filter(_.isDirectory).flatMap { st =>
        st.getPath.getName match {
          case pat(i) if fs.exists(
              new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) =>
            Some(i.toInt -> st.getPath.toString)
          case _ => None
        }
      }
      if (done.isEmpty) None else Some(done.maxBy(_._1))
    }
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.dedup.Dedup")

  /** Whether the ContextCleaner will reclaim checkpoint files — the
    * conf [[SweepCheckpoint.Reliable]] callers must enable on clusters
    * or accrete one checkpoint tree per sweep per run.
    */
  private[graft] def checkpointCleanerEnabled(
      spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.sparkContext.getConf
      .getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints", false)

  private[graft] def sweepMaterialize(df: DataFrame, sweep: SweepCheckpoint,
      idx: Int): DataFrame = sweep match {
    case SweepCheckpoint.Local => df.localCheckpoint()
    case SweepCheckpoint.Reliable(dir) =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        // context-global side effect (documented on SweepCheckpoint):
        // every later checkpoint() in the session now lands here
        log.warn(s"SweepCheckpoint.Reliable: setting the session-global " +
          s"checkpoint dir to $dir (none was set); later checkpoint() " +
          "calls in this session inherit it")
        sc.setCheckpointDir(dir)
      }
      if (idx == 0 && !checkpointCleanerEnabled(df.sparkSession))
        log.warn("SweepCheckpoint.Reliable: spark.cleaner." +
          "referenceTracking.cleanCheckpoints is off — per-sweep " +
          "checkpoint data will accrete for the session lifetime; " +
          "enable it (or use SweepCheckpoint.Table) for production runs")
      df.checkpoint()
    case SweepCheckpoint.Table(dir) =>
      val p = s"$dir/sweep_$idx"
      df.write.mode("overwrite").parquet(p)
      df.sparkSession.read.parquet(p)
  }

  private def deleteSweepDir(spark: org.apache.spark.sql.SparkSession,
      sweep: SweepCheckpoint, idx: Int): Unit = sweep match {
    case SweepCheckpoint.Table(dir) =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/sweep_$idx")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      ()
    case _ => ()
  }

  /** Free a sweep table once the NEXT sweep is materialized. The last
    * sweep is never freed — it backs the returned DataFrame (Table
    * callers: the final `sweep_<n>` directory lives until the caller is
    * done with the result).
    */
  private[graft] def sweepFree(df: DataFrame, sweep: SweepCheckpoint,
      idx: Int): Unit = sweep match {
    case SweepCheckpoint.Local => freeCheckpoint(df)
    case SweepCheckpoint.Reliable(_) =>
      () // checkpoint files belong to the SparkContext; the cleaner
         // removes them when spark.cleaner.referenceTracking
         // .cleanCheckpoints is on, and they are the fault-tolerance
         // story until then — never delete underneath the context
    case t: SweepCheckpoint.Table =>
      deleteSweepDir(df.sparkSession, t, idx)
  }

  /** Near-dup CLUSTERS: connected components of the verified simhash
    * near-dup graph. Converges to the transitive closure the one-hop
    * [[simhashAssign]] deliberately trades away: every doc in a
    * verified pair gets `cluster` = the min doc id of its whole
    * component — the canonical keep/drop key for full dedup. `sweep`
    * picks the per-sweep materialization (fault-tolerance) strategy;
    * see [[SweepCheckpoint]].
    *
    * The edge stream feeding the propagation loop is
    * [[simhashForest]]'s per-bucket star forest, NOT [[simhashPairs]]'s
    * full enumeration: the two edge sets have identical connectivity
    * (proof at [[simhashForest]]), so the output here is bit-identical
    * either way, but the forest keeps the loop's input linear in the
    * corpus where a duplicate clique of c docs would otherwise push
    * c(c-1)/2 pair rows through every sweep — the Omega(cliques^2)
    * blow-up measured at 13-16x on the sf1 replication stress.
    */
  def simhashClusters(sim0: DataFrame, idCol: String, maxHamming: Int,
      maxIter: Int = 25,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame =
    closeComponents(simhashForest(sim0, idCol, maxHamming),
        maxIter, sweep)
      .select(col("id").as(idCol), col("label").as("cluster"))

  /** The production 100 TB dedup chain as ONE composed operator:
    * exact dedup -> per-bucket star forest -> component resolution over
    * the linear edge stream — the answer to pair enumeration's
    * Omega(cliques^2) blow-up (SCALE_r05.md: one replicated family =
    * 113 docs = 6 328 pairs for [[simhashPairs]], but <= bands x 113
    * forest edges here).
    *
    * Stages:
    *  1. exact dedup ([[exact]] semantics): one survivor (min id) per
    *     distinct content hash; every doc remembers its survivor.
    *  2. [[simhashClusters]] over the survivors — which rides
    *     [[simhashForest]]'s per-bucket union-find stars, so the
    *     propagation loop's input is O(bands x n) whatever the clique
    *     structure, and the components are the PIGEONHOLE-COMPLETE
    *     transitive closure of all verified Hamming<=maxHamming pairs
    *     (proof at [[simhashForest]]). Before r10 this stage was the
    *     one-hop [[simhashAssign]], whose clustering was a documented
    *     refinement (true components could come out split); the forest
    *     delivers the full closure at the same linear cost, so the
    *     trade-off no longer exists.
    *  3. map every original doc through its exact-dup survivor to the
    *     survivor's cluster root (docs with no near-dup edge keep their
    *     survivor as cluster).
    */
  def dedupPipeline(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxIter: Int = 25,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame = {
    // null text hashes as "" (the file-wide convention — shingles and
    // the simhash kernel do the same): md5(NULL) is NULL, and a NULL
    // join key would silently DROP the doc from the output, violating
    // the one-row-per-input-doc contract of a keep/drop table
    val hashed = df.select(col(idCol),
      md5(coalesce(col(textCol), lit(""))).as("content_hash"))
    val surv = hashed.groupBy("content_hash")
      .agg(min(col(idCol)).as("survivor"))
    val doc2surv = hashed.join(surv, "content_hash")
      .select(col(idCol), col("survivor"))
    val survDocs = df.join(surv.select(col("survivor").as(idCol)), idCol)
    // no cache on sim: the forest edge stream is what
    // connectedComponents caches, and building it reads the survivors'
    // simhash exactly once — caching the map stage would be a pure
    // memory write with zero reuse
    val sim = simhash(survDocs, idCol, textCol)
    // private names throughout: a caller's idCol may itself be "id",
    // "label" or "cluster", which would collide with the component
    // table's output columns — so go through connectedComponents
    // directly (its d1/d2/id/label names never meet the caller's)
    // rather than simhashClusters' idCol-named projection
    val comps = closeComponents(
        simhashForest(sim, idCol, maxHamming), maxIter, sweep)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    doc2surv.join(comps, doc2surv("survivor") === comps("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("__cc_label"), col("survivor")).as("cluster"))
  }

  /** Free a localCheckpoint'ed dataset's backing RDD blocks.
    * Dataset.unpersist only uncaches through the CacheManager, which
    * has no entry for a checkpointed dataset — its plan is a LogicalRDD
    * over a directly-persisted RDD, so that RDD must be unpersisted
    * explicitly or every sweep's label table lingers in block storage.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }

  /** Embedding-cosine near-dup pairs routed through IVF cells
    * (SemDeDup-style cluster-then-dedupe): vectors are assigned to
    * their nearest centroid ([[graft.sim.Similarity.assignCells]] — a
    * broadcast + partial-aggregatable min_by, no window sort) and the
    * candidate self-join runs within cells only. Cell count scales with
    * the corpus, so the per-bucket pair space stays bounded — unlike
    * blocking on a low-cardinality attribute. The dot product is a
    * sequential left fold in double precision (bit-stable, matches
    * DuckDB's list_dot_product).
    *
    * '''Viral-density refusal (VERDICT r13 #1):''' under healthy
    * dispersion the within-cell candidate volume is ~occupancy*N/2 —
    * linear in the corpus, the operator's design envelope. The one
    * way it departs is SKEW: a viral near-identical family maps to
    * ONE cell (identical vectors share a nearest centroid), whose
    * C(n,2) join is a single unbounded task AND an Omega(family^2)
    * output. Above the [[pairGuard]] corpus-size floor this method
    * pre-flights the worst cell's C(n,2) from the cell-assignment
    * counts (one aggregate over a table the join reads anyway, run at
    * CONSTRUCTION time — the eager-pre-flight caveat of
    * [[ngramJaccardPairs]] applies) and throws
    * [[PairVolumeException]] naming the scale-safe statements
    * ([[semanticDedup]]'s star-forest closure, the bounded per-query
    * ANN reports) instead of letting the mega-cell join run. Below
    * the floor (all oracle/bench scales) the call stays fully lazy.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, ncells: Int = 0,
      maxCandidatePairs: Long = 1L << 28): DataFrame = {
    // ncells <= 0 = AUTO (Similarity.autoCells, the default): size the
    // cell count from the corpus so per-cell occupancy stays ~bounded
    // (the IVF property this operator's scale story rests on —
    // SemDeDup itself runs k proportional to corpus size). A FIXED
    // cell count at a growing corpus reproduces the banded-bucket
    // disease: occupancy grows linearly, the within-cell exact join
    // quadratically (sf10 probe: ncells=8 over 500k vectors = 284 s of
    // dot products; auto = 122 cells caps each cell near the
    // 4096-vector target). Explicit ncells stays for pinned structures;
    // the floor of 8 keeps the oracle scales (sf0.01/sf0.1) on the
    // 8-cell structure the DuckDB oracles encode.
    val cells =
      if (ncells > 0) ncells
      else graft.sim.Similarity.autoCells(df, idCol)
    embeddingDupPairsImpl(df, idCol, vecCol, threshold, cells,
      maxCandidatePairs, seedFrom = null)
  }

  /** Shared body of [[embeddingDupPairs]] and
    * [[sampledEmbeddingDupPairs]]: cell count is decided by the
    * caller, and `seedFrom` (when non-null) supplies the centroid seed
    * frame so the sampled caller can pin the FULL corpus's index.
    */
  private def embeddingDupPairsImpl(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, cells: Int,
      maxCandidatePairs: Long, seedFrom: DataFrame): DataFrame = {
    // two-stage refusal (r17): on the EXACT path, probe the worst cell
    // on a 1/r vector sample BEFORE paying the full-corpus assignment
    // (see sampledRefuseIfViralCells — at sf100 the exact census cost
    // more than the rateInv=2 relief answer). The sampled caller
    // (seedFrom != null) is probe-free, as on the text side: its
    // corpus is already thinned by a deliberate rate choice, and its
    // census runs on the assignment the join needs anyway. Escape-
    // hatch callers (maxCandidatePairs = Long.MaxValue) skip the
    // probe: nothing to refuse.
    if (seedFrom == null && maxCandidatePairs < Long.MaxValue &&
        pairGuard(df))
      sampledRefuseIfViralCells(df, idCol, vecCol, cells,
        maxCandidatePairs, "embeddingDupPairs")
    val assigned = graft.sim.Similarity.assignCells(df, idCol, vecCol,
        cells, seedFrom)
      .withColumn("nrm", sqrt(Vec.dot(col("v"), col("v"))))
      // zero-norm vectors have no defined cosine: exclude them rather
      // than let NaN ride into the threshold comparison, where engines
      // disagree (IEEE/Java: NaN >= t is false; DuckDB orders NaN as
      // the largest double, so NaN >= t is true) — found by the
      // degenerate-embedding fuzz corpora
      .filter(col("nrm") > 0.0)
      // PIN the pair join's partitioning (r17, found by the two-ref
      // paired bench after the map-only assignment landed): the
      // within-cell self-join's cost is QUADRATIC in rows-per-cell,
      // but AQE sizes reduce-side parallelism by shuffle BYTES — at a
      // small corpus (sf1: ~2 MB compressed) it coalesces the join's
      // exchange to 2 partitions and one task serializes ~50M dot
      // products (paired stage profile: 14.9 s wall at 2 tasks vs
      // 5.0 s at 7 under the r16 aggregate shape, whose extra
      // exchanges happened to dodge the coalesce). An EXPLICIT
      // numPartitions repartition is exempt from AQE coalescing, and
      // hashing by cell BEFORE the cache means census and self-join
      // both read a frame already partitioned on the join key — the
      // join plans with no exchange at all (the cached partitioning
      // satisfies both sides), at full width regardless of what the
      // byte heuristic thinks. Effective parallelism is still capped
      // by distinct cells (the join key); autoCells keeps cell count
      // >= corpus/4096, so the cap only binds at corpora small enough
      // for the residual skew not to matter.
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("cell"))
      .cache()
    if (pairGuard(df))
      // release-on-refusal, as at the text-side sites: a failed or
      // refused probe must not strand the cell-assignment cache for
      // the session (NonFatal, not just PairVolumeException — ADVICE
      // r16: a Spark job failure during the census counts too)
      try refuseIfViralCells(assigned, maxCandidatePairs, "embeddingDupPairs")
      catch { case scala.util.control.NonFatal(e) =>
        assigned.unpersist(); throw e }
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cos", Vec.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("d1"), col("b.id").as("d2"), col("cos"))
  }

  /** Per-cell STAR FOREST over the IVF-cell cosine graph — the
    * embedding-side twin of [[minhashForestFromSets]] (r13, found at
    * the sf100 decade): [[embeddingDupPairs]] emits EVERY within-cell
    * pair over the threshold, which is Omega(family^2) edges for a
    * near-dup family — 96M edges at the sf100 probe, blowing the
    * closure past the driver gate onto 25 distributed sweeps. A
    * connectivity CONSUMER ([[semanticDedup]]) needs components, not
    * the pair report, so each cell's verified graph is resolved by a
    * per-cell lazy union-find — the exact cosine (same IEEE sequence
    * as the join form: sequential-fold dot over raw vectors, one
    * division by the norm product) runs only for pairs not already
    * connected, so a clique family costs c-1 verifications — and each
    * component emits (component-min id, member) stars: O(vectors)
    * edges with connectivity IDENTICAL to the full verified pair set
    * (every verified pair is within one cell, where the union-find
    * either verified it or had already connected both sides).
    */
  private[graft] def embeddingStarForest(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, ncells: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells =
      if (ncells > 0) ncells
      else graft.sim.Similarity.autoCells(df, idCol)
    graft.sim.Similarity.assignCells(df, idCol, vecCol, cells)
      .withColumn("nrm", sqrt(Vec.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0.0) // no defined cosine (see embeddingDupPairs)
      .select(col("cell"), col("id").cast("long").as("id"), col("v"),
        col("nrm"))
      .as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups((_: Long,
          it: Iterator[(Long, Long, Array[Double], Double)]) =>
        cellStars(it, threshold))
      .toDF("d1", "d2")
  }

  /** Per-cell kernel of [[embeddingStarForest]]: the
    * component-incremental closure engine ([[incrementalComponents]] —
    * r16, same rewrite and equivalence proof as [[lshBucketStars]]),
    * then one star per nontrivial component rooted at its min member
    * id. Buffered state is the cell's vectors — bounded by the
    * autoCells occupancy target (~4096) under hash-like dispersion; a
    * pathologically dense region concentrates its own near-dup family
    * in one cell, which is exactly the clique case the incremental
    * enumeration makes O(c) — this kernel has no viral-cell refusal
    * BECAUSE it is the relief path, so its mega-cell behavior is the
    * one that matters.
    */
  private[graft] def cellStars(
      it: Iterator[(Long, Long, Array[Double], Double)],
      threshold: Double): Iterator[(Long, Long)] = {
    val (ids, verified) = cellState(it, threshold)
    starsOf(ids, incrementalComponents(ids.length, verified))
  }

  private def cellState(
      it: Iterator[(Long, Long, Array[Double], Double)],
      threshold: Double)
      : (scala.collection.mutable.ArrayBuffer[Long], (Int, Int) => Boolean) = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val nrms = scala.collection.mutable.ArrayBuffer.empty[Double]
    it.foreach { case (_, id, v, nrm) =>
      ids += id; vecs += v; nrms += nrm
    }
    def verified(i: Int, j: Int): Boolean = {
      // the join form's exact IEEE sequence: sequential-fold dot,
      // ONE division by the norm product, >= compare
      val a = vecs(i); val b = vecs(j)
      var s = 0.0
      var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }
      s / (nrms(i) * nrms(j)) >= threshold
    }
    (ids, verified)
  }

  /** The pre-r16 all-pairs kernel — retained for the equivalence spec;
    * not wired into any operator.
    */
  private[graft] def cellStarsNaive(
      it: Iterator[(Long, Long, Array[Double], Double)],
      threshold: Double): Iterator[(Long, Long)] = {
    val (ids, verified) = cellState(it, threshold)
    val m = ids.length
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        if (find(i) != find(j) && verified(i, j))
          parent(find(j)) = find(i)
        j += 1
      }
      i += 1
    }
    val compMin = new java.util.HashMap[Int, Long]()
    i = 0
    while (i < m) {
      val r = find(i)
      if (!compMin.containsKey(r) || ids(i) < compMin.get(r))
        compMin.put(r, ids(i))
      i += 1
    }
    (0 until m).iterator.flatMap { k =>
      val root = compMin.get(find(k))
      if (ids(k) != root) Iterator.single((root, ids(k))) else Iterator.empty
    }
  }

  /** SEMANTIC dedup — the embedding-space complement of the lexical
    * [[dedupPipeline]] (the SemDeDup recipe: cluster the embedding
    * space, drop all but one of each within-cluster near-identical
    * group): [[embeddingStarForest]] resolves each IVF cell's verified
    * cosine graph into per-cell stars (linear edge volume — the
    * all-pairs emission of [[embeddingDupPairs]] is Omega(family^2)
    * and measured 96M edges at the sf100 probe, see its scaladoc),
    * [[closeComponents]] closes across cells (O(vectors) star edges
    * sit comfortably under the driver gate at any measured scale, with
    * the distributed sweeps unchanged above it), and each group keeps
    * its min-id representative as the cluster label. Components are
    * IDENTICAL to the closure over the full verified pair set — the
    * star-forest connectivity argument of [[minhashLshClusterSummary]].
    *
    * Output `(id, cluster)` is TOTAL over the input: vectors that pair
    * with nothing — including zero-norm vectors, which have no defined
    * cosine and are excluded from pairing — are their own cluster.
    * Downstream keep-set selection is `filter(col(idCol) ===
    * col("cluster"))`, the d10 convention.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, ncells: Int = 0, maxIter: Int = 25,
      sweep: SweepCheckpoint = SweepCheckpoint.Local): DataFrame = {
    val pairs = embeddingStarForest(df, idCol, vecCol, threshold, ncells)
    // private names: a caller's idCol may collide with the component
    // table's output columns (the dedupPipeline convention)
    val comps = closeComponents(pairs, maxIter, sweep)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    df.select(col(idCol))
      .join(comps, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("__cc_label"), col(idCol)).as("cluster"))
  }
}

/** Dense-vector column math. */
object Vec {
  /** Sequential left-fold dot product over two array<double> columns.
    * A compiled while-loop UDF: performs the same IEEE operation
    * sequence as the `aggregate(zip_with(...))` higher-order form (so
    * results are bit-identical and match DuckDB's list_dot_product) but
    * without the per-row intermediate array allocation the HOF pays.
    */
  /** Native codegen'd Catalyst expression (same IEEE sequence). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DotProduct(a, b)

  /** HOF reference implementation (kept for plan-inspection tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, TOTAL on zero-norm inputs: IEEE would give
    * 0/0 = NaN but Spark 4's default ANSI mode THROWS on the zero
    * divisor (found by the degenerate-embedding fuzz corpora), so the
    * zero case short-circuits to NaN explicitly — same value DuckDB's
    * IEEE division produces. Operators still filter zero-norm rows out
    * BEFORE ranking/thresholding (NaN ordering and NaN-vs-threshold
    * semantics are engine-divergent); the guard just keeps the
    * expression itself crash-free for any direct caller.
    */
  def cosine(a: Column, b: Column): Column = {
    val na = dot(a, a)
    val nb = dot(b, b)
    when(na === 0.0 || nb === 0.0, lit(Double.NaN))
      .otherwise(dot(a, b) / (sqrt(na) * sqrt(nb)))
  }

  /** Squared L2 distance via precomputable norms: |a|^2+|b|^2-2ab. */
  def sqDist(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)
}
