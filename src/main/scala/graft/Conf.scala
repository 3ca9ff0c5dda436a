package graft

/** Every size-gate threshold, as one immutable value: a store carries
  * one (`GraphStore.conf`, kept by `copy`) and the DataFrame-level
  * operators take one, so a regime is chosen once per call and cannot
  * change under a running query. Forced-regime tests pass a `Conf`.
  */
final case class Conf(
    /** forest rows above which `Analytics.connectedComponentsDSU` takes
      * the star path; `None` derives it from executor memory */
    ccStarRows: Option[Long] = None,
    /** forest rows at or under which the DSU fan-in goes straight to
      * one partition (0 forces the ladder) */
    ccDirectFanInRows: Long = 4L << 20,
    /** Edge-count bound for PageRank's per-round rank attach. At or
      * under it each round BROADCASTS the rank vector (in-sum rows ≤
      * distinct dst ≤ E) and rides the dst-partitioned edge cache
      * exchange-free — but the broadcast relation is built single-
      * threaded ON THE DRIVER every round, so its cost grows linearly
      * with V while everything else stays parallel (measured at sf10:
      * the five per-round driver builds dominate the warm query), and
      * past ~hundreds of MB it stops being a sane broadcast at all
      * (8 GB / 512M-row hard cap). Past the bound the rounds switch to
      * the shuffle formulation: edges cached hash(src) so the per-round
      * rank join is a shuffled-hash join of ONE rank exchange (V rows)
      * against the cached layout, plus one narrow (dst, c) contribution
      * exchange for the aggregate — per-round network linear in E, no
      * driver-side structure anywhere. 32M edges ≈ a worst-case ~1.5 GB
      * built relation: the last point the broadcast is defensible.
      * 0 forces shuffle.
      */
    prBroadcastMaxRows: Long = 32L << 20,
    /** index candidates `ReadPlanner` inlines as an id IN-set (0 forces
      * the semi-join) */
    fixedMax: Int = 4096,
    /** scan bytes under which `~=`/prefix/vrange reads scan instead of
      * routing through the indexes and `BulkMerge` skips its batch-key
      * prune (0 forces the routed and pruned shapes) */
    smallStoreBytes: Long = 64L << 20,
    /** Largest single driver-resident Bloom filter `Dedup.incrementalNew`
      * will build (bits). Above it the sketch is hash-partitioned into
      * executor-resident bucket filters — a 1e11-item history at fpp
      * 0.01 needs ~120 GB of bits, which must never materialize on the
      * driver. Default 2^31 bits = 256 MB.
      */
    bloomMaxSingleBits: Long = 1L << 31,
    /** Per-bucket bit budget for the partitioned sketch (default 2^27
      * bits = 16 MB per executor task building/holding one bucket). */
    bloomBucketBits: Long = 1L << 27,
    /** hot-key rows up to which `Dedup.capBuckets` broadcasts its
      * over-cap key set (<= 0 forces the unhinted path) */
    dedupMaxHotBroadcastRows: Long = 4L << 20)
