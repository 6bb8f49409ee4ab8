package graft

import org.apache.spark.sql.SparkSession

/** Ambient-contention sentinel for the bench record.
  *
  * Problem (r11 post-mortem): a bench run on a loaded box silently
  * records inflated wall clocks — `BENCH_r11.json` shipped 620 s for a
  * suite that measures 295 s idle, with byte-identical shuffle
  * accounting (the signature of machine contention, not plan change) —
  * and nothing in the artifact said so, so the record masqueraded as a
  * 2× regression until it was manually re-measured.
  *
  * Fix: before the suite runs, time a PINNED calibration probe — a
  * pure-CPU, SF-independent, deterministic workload
  * (`bit_xor(xxhash64(id))` over a fixed range, one partition per
  * requested core) — and emit
  * `calibration_s`, `ambient_ratio` (= measured / pinned idle
  * repeat-min) and `contended` (ratio > 2) on the bench summary line.
  * A contended run thus SELF-LABELS; consumers (the judge, slope
  * tables) can discount it instead of misreading it as a regression.
  *
  * The probe is repeat-min of 4 (the first run absorbs codegen, the
  * next two still carry C2 JIT warmup — see [[time]]; the minimum is
  * the steady-state cost, same protocol as PERF.md) and saturates the
  * requested cores, so ANY competing load — other JVMs, the OS page
  * cache churn of a parallel build — inflates it roughly like it
  * inflates the suite.
  *
  * `pinnedIdleSeconds` is machine-specific BY DESIGN: it is the probe's
  * idle repeat-min on the benchmark machine (measured at 32 threads,
  * see PERF.md "Ambient sentinel"). On other hardware the ratio shifts
  * by the single-thread speed delta — acceptable for a 2× tripwire
  * whose false-positive cost is one re-run.
  */
object AmbientProbe {

  /** Idle-machine min-of-4 of [[time]] at local[32] on the benchmark
    * box (measured 2026-08, two fresh JVMs: 0.196 / 0.189 s). The 2×
    * tripwire therefore fires at ≥0.40 s — far below the ~3× the r11
    * contamination showed, far above idle jitter. */
  val pinnedIdleSeconds32: Double = 0.20

  /** The probe is FIXED TOTAL WORK, so idle wall clock scales
    * ~inversely with thread count; a bench narrowed to fewer cores
    * (SPARK_GRAFT_CPUS) compares against the rescaled pin. Linear
    * rescaling is approximate (memory bandwidth flattens it above
    * ~16 threads) but a 2× tripwire tolerates that. */
  def expectedIdle(parallelism: Int): Double =
    pinnedIdleSeconds32 * 32.0 / math.max(parallelism, 1)

  /** Contention tripwire: ambient ratio above this flags the record. */
  val contendedThreshold: Double = 2.0

  /** Fixed probe size: 2^28 ids ≈ 0.3 s of pure hashing at 32 idle
    * threads — long enough to see scheduler pressure, short enough to
    * not tax the suite. */
  val probeRows: Long = 1L << 28

  /** One timed probe run: hash-reduce a fixed range across
    * `parallelism` partitions. No shuffle (a single global aggregate's
    * partials), no IO, no SF dependence. `bit_xor`, not `sum` — the
    * reduction must not overflow under ANSI mode (hashes are
    * full-range longs). */
  def runOnce(spark: SparkSession, parallelism: Int): Double = {
    val t0 = System.nanoTime()
    spark
      .range(0L, probeRows, 1L, parallelism)
      .selectExpr("bit_xor(xxhash64(id)) AS h")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Repeat-min of 4: the first run absorbs codegen, the next two
    * still carry C2 JIT warmup of the hash loop (measured fresh-JVM
    * profile: 0.78/0.49/0.38/0.26 s), so a min-of-2 would sit ~1.8×
    * above steady state and eat most of the 2× tripwire's margin.
    * Four runs cost ~1.9 s once per bench — noise against a 300 s
    * suite. */
  def time(spark: SparkSession, parallelism: Int): Double =
    (1 to 4).map(_ => runOnce(spark, parallelism)).min

  def ratio(measured: Double, parallelism: Int): Double =
    measured / expectedIdle(parallelism)

  def contended(measured: Double, parallelism: Int): Boolean =
    ratio(measured, parallelism) > contendedThreshold

  // ---------------------------------------------------------------
  // MEMORY-PATH probe (r13 post-mortem): the ALU probe missed three
  // contaminated records in a row (r11/r12/r13) because the load that
  // inflated them was MEMORY-shaped — the r13 driver run carried
  // txt_freq_of_freqs at 139 s vs 7.9 s idle with `contended: false`
  // from a probe that only exercises registers. This second probe
  // exercises the path the inflated queries actually use: a fixed-size
  // hash aggregation (wide key space → per-partition hash-map build,
  // a real exchange, allocation/GC, memory bandwidth), pinned like the
  // ALU probe. A box whose memory subsystem is being churned by a
  // co-tenant inflates THIS probe even when spare cores keep the ALU
  // probe green.
  // ---------------------------------------------------------------

  /** Fixed memory-probe size: 24M rows hashed into a 3M-key space.
    * Per local[32] partition that is ~750k rows into ~660k distinct
    * keys — a partial-aggregation hash map that lives in main memory,
    * then a ~21M-row exchange. ≈1.1 s idle at 32 threads. */
  val memProbeRows: Long = 24L * 1000 * 1000
  val memProbeKeys: Long = 3L * 1000 * 1000

  /** Idle-machine min-of-4 of [[timeMem]] at local[32] on the
    * benchmark box (measured 2026-08, two fresh JVMs via the
    * test-scoped `graft.ProbeCalibrate`: 1.067 / 1.166 s; see PERF.md
    * "Ambient sentinel"). The 2× tripwire therefore fires at ≥2.2 s. */
  val pinnedIdleMemSeconds32: Double = 1.10

  /** Same approximate fixed-total-work rescaling as [[expectedIdle]];
    * the exchange makes it rougher (shuffle setup does not shrink with
    * thread count), but a 2× tripwire tolerates that. */
  def expectedIdleMem(parallelism: Int): Double =
    pinnedIdleMemSeconds32 * 32.0 / math.max(parallelism, 1)

  /** One timed memory-probe run: fixed-range hash aggregation over a
    * key space far wider than any CPU cache, collapsed to one row so
    * the driver never materializes the 3M groups. The inner groupBy is
    * the memory path (hash-map build + exchange); the outer bit_xor of
    * xxhash64(k, cnt) is ANSI-overflow-safe and forces every group to
    * be computed. */
  def runOnceMem(spark: SparkSession, parallelism: Int): Double = {
    val t0 = System.nanoTime()
    spark
      .range(0L, memProbeRows, 1L, parallelism)
      .selectExpr(s"id % ${memProbeKeys}L AS k")
      .groupBy("k")
      .count()
      .selectExpr("bit_xor(xxhash64(k, count)) AS h")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Repeat-min of 4, same protocol and rationale as [[time]]. */
  def timeMem(spark: SparkSession, parallelism: Int): Double =
    (1 to 4).map(_ => runOnceMem(spark, parallelism)).min

  def ratioMem(measured: Double, parallelism: Int): Double =
    measured / expectedIdleMem(parallelism)

  def contendedMem(measured: Double, parallelism: Int): Boolean =
    ratioMem(measured, parallelism) > contendedThreshold
}
