"""Scan-parallelism guard for expression-heavy operators.

A few-file parquet input (one 35 MB documents file, one row group)
yields byte-range splits that LOOK parallel — Spark plans
``totalSize / defaultParallelism`` splits — but a parquet row group
belongs entirely to the split containing its start offset, so a
1-row-group file does all its work in ONE task no matter how many
splits the planner prints. Any expensive per-row expression chained
onto that scan runs serial (measured 28 s vs 4 s for document
fingerprinting at 250k docs). At real scale the same table arrives as
thousands of files and needs no help.

``scan_fanout`` bridges both regimes: round-robin repartition ONLY
when the REAL scan parallelism — estimated from the file list, not
the split count — is below the cluster's; a no-op (zero shuffle)
otherwise. The shuffle it may introduce moves just the raw input
bytes of a small table — strictly cheaper than serializing the
downstream expression onto a handful of tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dpe_energy_performance_analysis_etl_spark.sources.io import hadoop_fs

# Spark and pyarrow both target ~128 MB row groups by default; a file
# contributes roughly size/128MB schedulable units of scan work.
_ROWGROUP_BYTES = 128 * 1024 * 1024

# Max ring points for the unrolled when-tree path: measured crossover
# (cc2f0cf:tools/measure_ring_bisect.py, the script's last commit —
# tree wins <= 512, ties ~1k, compile becomes pathological past that:
# 16384 leaves >13 min, killed).
_TREE_SAFE_MAX_POINTS = 512


def _estimated_file_parallelism(df: DataFrame, files: list[str], cap: int) -> int:
    """Real schedulable scan units: one per ~128 MB of each file
    (byte-splits beyond that are no-ops for single-row-group files).
    Driver-side metadata lookups, capped — with >= cap files the
    answer is already 'parallel enough'."""
    est = 0
    for f in files:
        fs, path = hadoop_fs(df.sparkSession, f)
        size = fs.getFileStatus(path).getLen()
        est += max(1, int(size) // _ROWGROUP_BYTES)
        if est >= cap:
            break
    return est


def scan_fanout(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` to cluster parallelism iff its REAL scan
    parallelism (file count x ~128 MB units, not the planner's
    byte-split count) is below that; otherwise return it untouched —
    many-file scans at scale must not pay an extra shuffle."""
    if df.isStreaming:
        # no .rdd on streaming plans; micro-batch parallelism is the
        # source's concern (maxFilesPerTrigger etc.), not a repartition
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        if len(files) >= target:
            return df
        if _estimated_file_parallelism(df, files, target) >= target:
            return df
        return df.repartition(target)
    # derived / in-memory input: the partition count is honest
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def rendezvous_assign(
    df: DataFrame,
    key_col: str,
    n_nodes: int,
    salt: int = 0,
) -> DataFrame:
    """Rendezvous (highest-random-weight) assignment of each key to
    one of ``n_nodes`` shards (Thaler & Ravishankar '96 — the
    consistent-hashing scheme behind cache/shard placement that
    minimizes movement under membership change): node(x) = argmax_i
    mix(x, i). Unlike `hash(x) % n`, growing to n+1 nodes moves only
    the keys whose NEW node wins the argmax — an expected 1/(n+1)
    fraction — instead of reshuffling (n-1)/n of everything.

    Row-local codegen (an aggregate over a literal node array — no
    shuffle at all); the mix is the repo's portable xor-shift
    finalizer, so placement replays bit-identically in SQL and across
    engines/restarts. Ties (two nodes drawing the same 32-bit weight
    for one key) break to the lower node id via the (weight, -i)
    struct-max, deterministically.

    Returns df + ``shard`` column.
    """
    from dpe_energy_performance_analysis_etl_spark.operators.graph import (
        _portable_mix32,
    )

    x = F.col(key_col)
    best = None
    for i in range(n_nodes):
        # DOUBLE finalizer per (key, node): a single additive-salt
        # mix leaves cross-node weights correlated (measured: the
        # grown-cluster move rate read 12% where HRW predicts 20%);
        # re-mixing the mixed value with the salt restores
        # independence (20.07% at 50k keys, per-shard balance ±0.4%)
        w = _portable_mix32(
            _portable_mix32(x, F.lit(salt * 1024 + i)), F.lit(salt * 1024 + i)
        )
        s = F.struct(w.alias("w"), F.lit(-i).cast("bigint").alias("ni"))
        best = s if best is None else F.greatest(best, s)
    return df.withColumn("shard", (-best.getField("ni")).cast("bigint"))


def ring_assign(
    df: DataFrame,
    key_col: str,
    n_nodes: int,
    vnodes: int = 64,
    salt: int = 0,
    method: str = "auto",
) -> DataFrame:
    """Consistent-hash RING assignment (Karger et al., STOC'97 — the
    memcached/Dynamo placement scheme) of each key to one of
    ``n_nodes``, with ``vnodes`` virtual points per node to smooth
    the arc-length imbalance a bare ring suffers (MEASURED on 15k
    keys, 4 nodes: 16 vnodes leave max/avg at 1.50; 64 vnodes bring
    it to 1.06 — the default).

    node(x) = owner of the first ring point clockwise of h(x), i.e.
    argmin over all (node, v) points of (pos − h(x)) mod 2³². The
    point table is n·vnodes values — precomputed driver-side with
    the SAME portable mix (a pure function of (node, vn, salt), no
    data), SORTED, and baked in as literal arrays, so assignment is
    row-local: hash the key once, BINARY-SEARCH the sorted literal
    position array for the first position >= h (wrap to index 1),
    then index a parallel node array at the found slot. ZERO
    shuffle, zero join, and ⌈log₂(points+1)⌉ bigint compares per
    row — the history of this operator is a lesson in per-row cost:
    the struct-min fold over all points cost 247 s at sf5; the
    linear `F.filter` scan + literal-map lookup cut that to 31.7 s
    at 320 points but stayed O(points) per row (a scale-killer at a
    realistic 256 nodes × 64 vnodes = 16 384 points); this bisection
    is O(log points) — measured 27.7× faster than the linear scan at
    16 384 points (8.13 s vs 225.34 s over 1M keys) and near-flat in
    ring size (4.11 → 8.13 s across a 64× point growth; NOTES round
    7, cc2f0cf:tools/measure_ring_bisect.py). Pairs
    with `rendezvous_assign` (per-key-per-node hashing) at the same
    movement bound with precomputable state.

    Every hash is the portable mix32, so placement replays
    bit-identically in SQL; colliding point positions dedup to the
    lowest (node, vn), matching the oracle's struct-min tie.

    Returns df + ``shard`` column.
    """
    from dpe_energy_performance_analysis_etl_spark.operators.graph import (
        _portable_mix32,
    )

    def mix_py(node: int, vn: int, k: int) -> int:
        s = (node % 4294967296 + (vn % 4294967296) * 40503 + k * 73244475) % 4294967296
        s = ((s ^ (s >> 16)) * 73244475) % 4294967296
        return s ^ (s >> 16)

    points = sorted(
        (mix_py(node, vn, salt), node, vn)
        for node in range(n_nodes)
        for vn in range(vnodes)
    )
    # dedup colliding positions keeping the lowest (node, vn) — the
    # same tie the oracle's (distance, node, vn) struct-min breaks;
    # duplicate map keys would otherwise raise under Spark's default
    # mapKeyDedupPolicy=EXCEPTION
    seen: set[int] = set()
    points = [
        p for p in points if p[0] not in seen and not seen.add(p[0])
    ]
    # positions sorted ascending: the owner of h is the FIRST point
    # with pos >= h (wrap to the global minimum). Lower-bound BINARY
    # SEARCH via a log-depth `aggregate` fold over a step counter —
    # the state is the (lo, hi) half-open 1-based index interval,
    # each step reads ONE element_at(pos_arr, mid) (O(1) array
    # index), so the per-row cost is ⌈log₂(points+1)⌉ compares
    # instead of the linear F.filter scan + linear literal-map probe
    # this replaces (GetMapValue on a literal map is ALSO an O(n)
    # key scan). The node comes from a parallel literal array at the
    # found index — both arrays are one shared literal each, so the
    # codegen size is O(points) data, O(log points) code.
    n_pts = len(points)
    h = _portable_mix32(F.col(key_col), F.lit(97), F.lit(salt))

    if method == "auto":
        # Measured r8 (cc2f0cf:tools/measure_ring_bisect.py, 1M keys,
        # min-of-2 end-to-end incl. plan build; NOTES round 8):
        #   points   linear_r6   fold_r7   tree_r8
        #     256       9.00       4.67      1.36   <- tree 3.4x
        #    1024      14.88       5.57      6.00   <- tie
        #    4096      64.65       8.04     26.32   <- build dominates
        #   16384     186.42      10.01     killed (>13 min compile)
        # The tree's per-row path is cheapest, but its O(points)
        # expression build/compile overwhelms past ~1k leaves while
        # the fold's two literal arrays build instantly and stay
        # near-flat. Route by point count: tree small, fold large.
        method = "tree" if n_pts <= _TREE_SAFE_MAX_POINTS else "fold"

    if method == "tree":
        if n_pts > _TREE_SAFE_MAX_POINTS:
            # ADVICE r8: an explicit method='tree' had no size guard —
            # the measured compile pathology (16384 leaves: >13 min in
            # codegen before being killed, cc2f0cf:tools/measure_ring_bisect.py)
            # would hang the driver. Fail fast instead of hanging;
            # 'fold' and 'auto' cover large rings.
            raise ValueError(
                f"ring_assign(method='tree') with {n_pts} ring points "
                f"exceeds the measured safe cap of {_TREE_SAFE_MAX_POINTS} "
                "(nested CaseWhen compile is pathological past ~1k "
                "leaves; 16384 leaves measured >13 min before being "
                "killed). Use method='fold' or method='auto'."
            )
        # Codegen'd UNROLLED when-tree (r7 verdict ask #6): the same
        # lower-bound search as the fold below, but compiled as a
        # STATIC balanced binary tree of nested CASE WHEN literal
        # comparisons — per row it evaluates exactly ⌈log₂ points⌉
        # long compares on ONE root-to-leaf path and returns the node
        # id at the leaf (no element_at, no struct state, and none of
        # the higher-order-function lambda interpretation the
        # `aggregate` fold pays per step). Expression TREE size is
        # O(points) — evaluation cost is the path, not the tree.
        # Measured vs the fold (1M keys, end-to-end incl. build):
        # 3.4x faster at 256 points (1.36 vs 4.67 s), tie at 1024,
        # LOSES past that as the O(points) build/compile dominates —
        # hence the auto cap (NOTES round 8,
        # cc2f0cf:tools/measure_ring_bisect.py).
        def lower_bound_tree(lo: int, hi: int):
            # answer for h <= points[hi-1].pos: first idx in [lo, hi)
            # with pos >= h, returned as that point's NODE id
            if hi - lo == 1:
                return F.lit(points[lo][1]).cast("bigint")
            mid = (lo + hi) // 2
            return (
                F.when(F.lit(points[mid - 1][0]).cast("bigint") >= h,
                       lower_bound_tree(lo, mid))
                .otherwise(lower_bound_tree(mid, hi))
            )

        shard = F.when(
            h > F.lit(points[-1][0]).cast("bigint"),
            F.lit(points[0][1]).cast("bigint"),  # wrap to the global min
        ).otherwise(lower_bound_tree(0, n_pts))
        return df.withColumn("shard", shard)

    pos_arr = F.array(*[F.lit(p).cast("bigint") for p, _, _ in points])
    node_arr = F.array(*[F.lit(node).cast("bigint") for _, node, _ in points])
    steps = (n_pts + 1).bit_length()  # >= ceil(log2(n_pts+1)) halvings

    def bisect_step(acc, _step):
        mid = F.shiftright(acc["lo"] + acc["hi"], 1)
        ge = F.element_at(pos_arr, mid) >= h
        return F.when(acc["lo"] >= acc["hi"], acc).otherwise(
            F.struct(
                F.when(ge, acc["lo"]).otherwise(mid + F.lit(1)).alias("lo"),
                F.when(ge, mid).otherwise(acc["hi"]).alias("hi"),
            )
        )

    lb = F.aggregate(
        F.sequence(F.lit(1), F.lit(steps)),
        F.struct(
            F.lit(1).cast("int").alias("lo"),
            F.lit(n_pts + 1).cast("int").alias("hi"),
        ),
        bisect_step,
        lambda acc: acc["lo"],
    )
    idx = F.when(lb > F.lit(n_pts), F.lit(1)).otherwise(lb)
    return df.withColumn("shard", F.element_at(node_arr, idx))
