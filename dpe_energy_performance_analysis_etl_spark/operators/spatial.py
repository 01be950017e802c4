"""Spatial radius joins without a cartesian product.

The reference's domain is geocoded addresses — its BAN lookup
(`/root/reference/src/dpe_enedis_ademe_etl_engine/scripts/extract.py:158-177`
`call_ban_api_individually` returns lat/lon per address) stops at
point enrichment. The natural
next operator a user needs is "which points lie within distance d of
each other" (nearest station, dedup of geocoded sites, spatial
blocking for record linkage). Naively that is an O(n·m) cross join; at
100 TB it must not be.

Scale design — grid-bucketed band join:
  - every point maps to a square grid cell of side >= the search
    radius; one side additionally explodes to its 3x3 cell
    neighborhood (a fixed 9x fan-out, independent of data size);
  - candidate generation is then a plain EQUI-JOIN on the cell id —
    Catalyst hashes/shuffles on it like any key; no
    BroadcastNestedLoopJoin, no CartesianProduct anywhere in the plan;
  - the exact distance predicate refines candidates. Any true match
    sits at most one cell apart in each axis, so the 3x3 neighborhood
    is exhaustive (no recall loss);
  - cost: shuffle O(n + 9m) rows + per-cell pair work — the spatial
    analogue of the banded-LSH candidate bound in ``dedup/minhash.py``.

Two metrics:
  - ``euclidean_deg``: plain euclidean distance in coordinate units.
    IEEE-exact (mul/add/sqrt are correctly-rounded), hence usable in
    bit-exact oracles; correct for small extents / projected coords.
  - ``haversine_km``: great-circle km (trig via JVM libm — correct to
    ~1 ulp but NOT oracle-portable; verified against numpy in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (degree) coordinates."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    # asin form is ill-conditioned near antipodes; atan2 form is stable
    return 2 * EARTH_RADIUS_KM * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def _euclidean_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    return F.sqrt(
        (lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)
    )


def grid_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    right_lat_col: str | None = None,
    right_lon_col: str | None = None,
    metric: str = "euclidean_deg",
    cell_deg: float | None = None,
    max_abs_lat: float = 66.0,
    distance_col: str = "distance",
) -> DataFrame:
    """All (left, right) pairs within ``radius`` of each other, joined
    through a grid-cell equi-join (see module docstring; never a
    cartesian product).

    ``radius`` is in the metric's unit: degrees for ``euclidean_deg``,
    km for ``haversine_km``. ``cell_deg`` is the LATITUDE cell side in
    degrees; it defaults to the radius (euclidean) or the radius's
    latitude-degree equivalent (haversine, 1° lat ≈ 111 km — latitude
    degrees never shrink, so this is conservative).

    Longitude degrees DO shrink toward the poles (1° lon ≈
    111·cos(lat) km), so for ``haversine_km`` the longitude cell is
    widened by 1/cos(``max_abs_lat``): recall is exhaustive for data
    within ±``max_abs_lat`` latitude (default 66° covers everything
    south of the Arctic Circle; raise it — at 9×-fan-out-stays-9× but
    wider-cells cost — for polar data). ``euclidean_deg`` needs no
    correction: the per-axis degree bound is exact.

    Returns every non-coordinate column of both inputs (right side
    suffixed ``_r`` on collision) plus ``distance_col``. Left/right
    with distinct coordinate column names are supported via
    ``right_lat_col``/``right_lon_col``.
    """
    import math

    if metric not in ("euclidean_deg", "haversine_km"):
        raise ValueError(f"unknown metric: {metric}")
    rlat = right_lat_col or lat_col
    rlon = right_lon_col or lon_col
    if cell_deg is None:
        cell_deg = radius if metric == "euclidean_deg" else radius / 111.0
    if cell_deg <= 0:
        raise ValueError(f"cell_deg must be positive: {cell_deg}")
    if metric == "haversine_km":
        lon_cell_deg = cell_deg / math.cos(math.radians(max_abs_lat))
    else:
        lon_cell_deg = cell_deg

    def cell(c: Column, size: float) -> Column:
        return F.floor(c / F.lit(float(size))).cast("long")

    # suffix colliding right-side columns before the join
    r = right
    renames = {}
    for c in right.columns:
        if c in left.columns:
            renames[c] = f"{c}_r"
            r = r.withColumnRenamed(c, f"{c}_r")
    rlat_eff = renames.get(rlat, rlat)
    rlon_eff = renames.get(rlon, rlon)

    l_tag = left.withColumn("__cx", cell(F.col(lat_col), cell_deg)).withColumn(
        "__cy", cell(F.col(lon_col), lon_cell_deg)
    )
    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    r_tag = (
        r.withColumn("__ox", F.explode(offsets))
        .withColumn("__oy", F.explode(offsets))
        .withColumn("__cx", cell(F.col(rlat_eff), cell_deg) + F.col("__ox"))
        .withColumn("__cy", cell(F.col(rlon_eff), lon_cell_deg) + F.col("__oy"))
        .drop("__ox", "__oy")
    )
    dist_fn = _euclidean_deg if metric == "euclidean_deg" else haversine_km
    dist = dist_fn(F.col(lat_col), F.col(lon_col), F.col(rlat_eff), F.col(rlon_eff))
    joined = (
        l_tag.join(r_tag, on=["__cx", "__cy"])
        .withColumn(distance_col, dist)
        .where(F.col(distance_col) <= F.lit(float(radius)))
        .drop("__cx", "__cy")
    )
    return joined


def point_in_polygon_tag(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    poly_id_col: str = "poly_id",
    vertices_col: str = "vertices",
) -> DataFrame:
    """Tag each point with the polygons containing it — even-odd ray
    casting evaluated as a codegen'd fold over the polygon's vertex
    ring (no UDF, no geo library): a rightward ray from the point
    crosses edge (i, j) iff the edge spans the point's y and the
    x-intercept lies right of the point; odd crossing count = inside.

    ``polygons`` is (poly_id, vertices: array<struct<x, y>>) — the
    admin-boundary / geofence table, small by nature, BROADCAST to
    every executor: the join is each point against each polygon
    (bounded fan-out |polys|), with a row-local bounding-box
    prefilter so the full ring fold runs only for bbox hits. The
    point table never shuffles. Boundary points follow raw IEEE
    comparison (deterministic, engine-identical; not a topological
    on-edge guarantee)."""
    v = F.col(vertices_col)
    x, y = F.col(x_col), F.col(y_col)
    n = F.size(v)
    xs = F.transform(v, lambda s: s["x"])
    ys = F.transform(v, lambda s: s["y"])
    bbox_hit = (
        (x >= F.array_min(xs)) & (x <= F.array_max(xs))
        & (y >= F.array_min(ys)) & (y <= F.array_max(ys))
    )
    # Fold i = 1..n over edges (v[i], v[i % n + 1]) counting crossings.
    def crossing(acc, i):
        xi, yi = F.element_at(v, i)["x"], F.element_at(v, i)["y"]
        nxt = (i % n) + 1
        xj, yj = F.element_at(v, nxt)["x"], F.element_at(v, nxt)["y"]
        spans = (yi > y) != (yj > y)
        hit = spans & (x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        return acc + F.when(hit, F.lit(1)).otherwise(F.lit(0))

    crossings = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), crossing)
    tagged = points.crossJoin(F.broadcast(polygons))
    return tagged.filter(bbox_hit & (crossings % 2 == 1)).select(
        *points.columns, poly_id_col
    )


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode_micro(
    lat_micro: Column, lon_micro: Column, precision: int = 5
) -> Column:
    """Geohash (Niemeyer 2008 — the public base-32 Z-order cell code)
    from INTEGER microdegree coordinates, in pure integer arithmetic:

      cell_x = (lon_µ° + 180e6)·2^lon_bits div 360e6   (floor)
      cell_y = (lat_µ° +  90e6)·2^lat_bits div 180e6
      code   = bit-interleave MSB-first starting with longitude
      chars  = base-32 digits of the 5·precision-bit code

    Integer µ° in, integer divisions and literal shifts throughout —
    no float binary-search refinement, so the SQL oracle replays the
    cell assignment bit-exactly (a double-division formulation can
    round across a cell boundary; the repo's numeric_range_lookup
    lesson). Bound: (lon+180e6)·2^13 ≈ 3e12 — int64-safe to
    precision 12 (60 bits), far past GPS resolution.

    Everything is a row-local codegen expression — zero shuffle; cell
    aggregation downstream is an ordinary groupBy on the string.
    """
    total_bits = 5 * precision
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2
    # exact integer floor-div without a Column-level `div` operator:
    # (a - pmod(a, b)) / b is an exact multiple's double division —
    # exact below 2^53 (numerators are ≤ ~3e12 here)
    x_num = (lon_micro.cast("bigint") + F.lit(180_000_000)) * F.lit(1 << lon_bits)
    y_num = (lat_micro.cast("bigint") + F.lit(90_000_000)) * F.lit(1 << lat_bits)
    # clamp the inclusive upper boundary (lon=+180, lat=+90) into the
    # last cell — without it cell_x = 2^lon_bits sets a bit above the
    # interleave window and the point silently encodes as the
    # -180/-90 cell (standard geohash clamps the boundary).
    cell_x = F.least(
        ((x_num - F.pmod(x_num, F.lit(360_000_000))) / F.lit(360_000_000)).cast(
            "bigint"
        ),
        F.lit((1 << lon_bits) - 1),
    )
    cell_y = F.least(
        ((y_num - F.pmod(y_num, F.lit(180_000_000))) / F.lit(180_000_000)).cast(
            "bigint"
        ),
        F.lit((1 << lat_bits) - 1),
    )

    code = F.lit(0).cast("bigint")
    # interleave MSB-first, longitude first (even interleave positions)
    for i in range(lon_bits):
        bit = F.shiftright(cell_x, lon_bits - 1 - i) % F.lit(2)
        code = code + bit * F.lit(1 << (total_bits - 1 - 2 * i))
    for i in range(lat_bits):
        bit = F.shiftright(cell_y, lat_bits - 1 - i) % F.lit(2)
        code = code + bit * F.lit(1 << (total_bits - 2 - 2 * i))

    chars = []
    for d in range(precision):
        digit = F.shiftright(code, total_bits - 5 * (d + 1)) % F.lit(32)
        chars.append(
            F.substring(
                F.lit(GEOHASH_BASE32), F.lit(1) + digit.cast("int"), F.lit(1)
            )
        )
    return F.concat(*chars)


def dbscan_grid(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """DBSCAN (Ester et al., KDD'96) over INTEGER 2-D coordinates,
    distributed via the module's grid-cell candidate bound — the
    density-clustering step a geocoded-dedup pipeline runs after
    point enrichment (cluster sites, flag isolated records as noise).

    Scale shape (no all-pairs anywhere):
      - eps-neighbor candidates through a HALF-PLANE grid-cell
        equi-join (cell side = eps): each unordered pair is generated
        once via 5 of the 9 neighbor offsets (the lex-positive half,
        with an id tie-break inside the shared cell) and the
        symmetric pair table is recovered by a row-local mirror
        explode of the survivors — half the candidate volume of the
        naive 3x3 join at identical recall; the exact predicate is
        the INTEGER squared distance dx²+dy² <= eps² — engine-exact,
        no floats;
      - core test |N_eps(p)| >= min_pts counts p itself (the paper's
        definition);
      - clusters = connected components of the core-core eps graph
        via ``dedup.cluster.connected_components`` (hash-min label
        propagation, O(1)-row checksum convergence probe) — the
        component label is the MIN core id, a deterministic cluster
        id;
      - border points (non-core with >= 1 core neighbor) take the
        MIN cluster label among their adjacent cores. Canonical
        DBSCAN leaves border assignment scan-order-dependent; the
        min rule makes it a pure function of the input, identical on
        every engine and partitioning;
      - noise gets cluster -1.

    The candidate pair table is consumed by three branches (counts,
    core edges, border attach) — cached while in scope (bounded by
    the eps-neighbor pair count, the operator's true output-side
    size; on a cluster prefer persist(DISK_ONLY) for huge densities).

    Coordinates may be negative: the cell id uses a floor division
    built from pmod ((c - pmod(c, eps)) / eps — the numerator is an
    exact multiple of eps, so the double division is exact for
    |c| < 2^53; plenty for projected/micro-degree coordinates).

    Returns (id, role in {'core','border','noise'}, cluster).
    """
    from dpe_energy_performance_analysis_etl_spark.dedup.cluster import connected_components

    if eps <= 0 or min_pts < 1:
        raise ValueError(f"eps must be > 0 and min_pts >= 1: {eps}, {min_pts}")
    p = points.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    )

    def cell(c: Column) -> Column:
        # floor division via pmod: exact for negatives on both engines
        return ((c - F.pmod(c, F.lit(eps))) / F.lit(eps)).cast("bigint")

    l_tag = p.select(
        F.col("id").alias("a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        cell(F.col("x")).alias("cx"),
        cell(F.col("y")).alias("cy"),
    )
    # Half-plane candidate generation (r13, guide §2.3 shuffle fewer
    # bytes / §2.2): each unordered pair is generated ONCE — the right
    # side explodes over only the 5 lex-positive neighbor offsets
    # ((0,0) with an id tie-break a<b inside the shared cell; the four
    # offsets whose mirror is lex-negative cover every cross-cell
    # pair exactly once) — and the symmetric pair table the three
    # consumers need is recovered by a ROW-LOCAL mirror explode of
    # the output-sized survivor set. Halves the candidate join volume
    # and cuts the exploded shuffle side 9× → 5×; exactness: the old
    # 9-offset join emitted exactly {(a,b), (b,a)} per qualifying
    # unordered pair plus (p,p) self rows, and mirror(half) emits the
    # same two rows while the self rows move into the ncount +1.
    offsets5 = F.array(
        *[
            F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for ox, oy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        ]
    )
    r_tag = (
        p.select(
            F.col("id").alias("b"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
        )
        .withColumn("o", F.explode(offsets5))
        .select(
            "b",
            "bx",
            "by",
            (cell(F.col("bx")) + F.col("o.ox")).alias("cx"),
            (cell(F.col("by")) + F.col("o.oy")).alias("cy"),
            ((F.col("o.ox") == 0) & (F.col("o.oy") == 0)).alias("_same"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    half = (
        l_tag.join(r_tag, ["cx", "cy"])
        .where(d2 <= F.lit(int(eps) * int(eps)))
        .where((~F.col("_same")) | (F.col("a") < F.col("b")))
        .select("a", "b")
    )
    pairs = (
        half.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .cache()
    )
    if min_pts <= 1:
        # isolated points (absent from the mirrored pair table) have
        # |N_eps| = 1 and qualify only at min_pts <= 1
        core = p.select("id").cache()
    else:
        # every point is its own eps-neighbor (d2 = 0): the paper's
        # |N_eps(p)| counts p itself — the +1 replaces the old self rows
        ncount = pairs.groupBy("a").agg((F.count(F.lit(1)) + 1).alias("n"))
        core = (
            ncount.where(F.col("n") >= min_pts)
            .select(F.col("a").alias("id"))
            .cache()
        )
    core_edges = (
        pairs.join(core.withColumnRenamed("id", "a"), "a", "semi")
        .join(core.withColumnRenamed("id", "b"), "b", "semi")
    )
    labels = connected_components(
        core_edges, src="a", dst="b", nodes=core, node_col="id"
    )
    core_out = labels.select(
        F.col("node").alias("id"),
        F.lit("core").alias("role"),
        F.col("comp").alias("cluster"),
    )
    border_out = (
        pairs.join(core.withColumnRenamed("id", "a"), "a", "anti")
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy("a")
        .agg(F.min("comp").alias("cluster"))
        .select(F.col("a").alias("id"), F.lit("border").alias("role"), "cluster")
    )
    assigned = core_out.select("id").unionByName(border_out.select("id"))
    noise_out = (
        p.select("id")
        .join(assigned, "id", "anti")
        .select("id", F.lit("noise").alias("role"), F.lit(-1).cast("bigint").alias("cluster"))
    )
    out = core_out.unionByName(border_out).unionByName(noise_out).localCheckpoint()
    pairs.unpersist()
    core.unpersist()
    return out


def morans_i_grid(
    cells,
    x_col: str = "cx",
    y_col: str = "cy",
    value_col: str = "val",
    scale: int = 1_000_000,
):
    """Global Moran's I spatial autocorrelation over a grid of cells
    with rook adjacency (Moran 1950): do neighboring cells carry
    similar values? With n cells, value sum S and W directed
    neighbor pairs,

        I = (n / W) · Σ_pairs (n·x_i − S)(n·x_j − S)
                    / Σ_i (n·x_i − S)²

    — the n-scaled centering keeps every term an exact integer (the
    n² factors cancel), so the only division is one sign-factored
    truncating div at the end. Neighbor pairs are EQUI-KEYED: each
    cell explodes its 4 rook-neighbor keys and joins back on the
    cell key — never a distance cross join (CLAUDE.md candidate-
    generation rule). Magnitude bound n·W·max|n·x−S|² ·scale < 10³⁸.

    ``cells`` must carry integer grid coordinates and an exact
    integer value per cell (one row per cell). Returns one row
    (n_cells, w_pairs, morans_i_scaled); NULL when the variance or
    W is zero.
    """
    from pyspark.sql import functions as F

    base = cells.select(
        F.col(x_col).cast("bigint").alias("cx"),
        F.col(y_col).cast("bigint").alias("cy"),
        F.col(value_col).cast("bigint").alias("val"),
    ).localCheckpoint(eager=True)  # consumed by totals + both join sides
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("val").cast("bigint").alias("s"),
    )
    ctr = base.crossJoin(F.broadcast(tot)).selectExpr(
        "cx", "cy", "CAST(n * val - s AS DECIMAL(38,0)) AS d"
    )
    nbr = ctr.selectExpr(
        "explode(array("
        " struct(cx + 1 AS cx, cy AS cy, d AS d_nbr),"
        " struct(cx - 1 AS cx, cy AS cy, d AS d_nbr),"
        " struct(cx AS cx, cy + 1 AS cy, d AS d_nbr),"
        " struct(cx AS cx, cy - 1 AS cy, d AS d_nbr))) AS e"
    ).select("e.cx", "e.cy", "e.d_nbr")
    pairs = ctr.join(nbr, ["cx", "cy"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum(F.expr("d * d_nbr")).alias("cross_sum"),
    )
    var = ctr.agg(F.sum(F.expr("d * d")).alias("var_sum"))
    return (
        tot.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(var))
        .selectExpr(
            "n AS n_cells",
            "w AS w_pairs",
            "CASE WHEN w > 0 AND var_sum > 0 THEN CAST("
            " (CASE WHEN cross_sum >= 0 THEN 1 ELSE -1 END)"
            f" * ((abs(cross_sum) * n * {scale}) div (var_sum * w))"
            " AS BIGINT) END AS morans_i_scaled",
        )
    )


def geary_c_grid(
    cells,
    x_col: str = "cx",
    y_col: str = "cy",
    value_col: str = "val",
    scale: int = 1_000_000,
):
    """Global Geary's C spatial autocorrelation over a grid with rook
    adjacency (Geary 1954): the LOCAL-difference complement of
    Moran's I — I correlates values, C accumulates squared neighbor
    DIFFERENCES, so C is the more sensitive of the two to small-range
    structure (C < 1 positive autocorrelation, > 1 negative). With n
    cells, value sum S, d_i = n·x_i − S and W directed neighbor
    pairs,

        C = (n−1) · Σ_pairs (d_i − d_j)² / (2W · Σ_i d_i²)

    — the n² centering factors cancel, every term is an exact
    integer, and the single division is a truncating div on a
    NONNEGATIVE numerator (identical both engines). Neighbor pairs
    are equi-keyed exactly as in ``morans_i_grid``. Magnitude bound:
    (n−1)·W·max(d_i−d_j)²·scale must stay under 10³⁸ — pass values
    in coarse units (whole dollars, not cents) on dense grids.

    Returns one row (n_cells, w_pairs, geary_c_scaled); NULL when
    the variance or W is zero."""
    from pyspark.sql import functions as F

    base = cells.select(
        F.col(x_col).cast("bigint").alias("cx"),
        F.col(y_col).cast("bigint").alias("cy"),
        F.col(value_col).cast("bigint").alias("val"),
    ).localCheckpoint(eager=True)  # consumed by totals + both join sides
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("val").cast("bigint").alias("s"),
    )
    ctr = base.crossJoin(F.broadcast(tot)).selectExpr(
        "cx", "cy", "CAST(n * val - s AS DECIMAL(38,0)) AS d"
    )
    nbr = ctr.selectExpr(
        "explode(array("
        " struct(cx + 1 AS cx, cy AS cy, d AS d_nbr),"
        " struct(cx - 1 AS cx, cy AS cy, d AS d_nbr),"
        " struct(cx AS cx, cy + 1 AS cy, d AS d_nbr),"
        " struct(cx AS cx, cy - 1 AS cy, d AS d_nbr))) AS e"
    ).select("e.cx", "e.cy", "e.d_nbr")
    pairs = ctr.join(nbr, ["cx", "cy"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum(F.expr("(d - d_nbr) * (d - d_nbr)")).alias("diff_sq"),
    )
    var = ctr.agg(F.sum(F.expr("d * d")).alias("var_sum"))
    return (
        tot.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(var))
        .selectExpr(
            "n AS n_cells",
            "w AS w_pairs",
            "CASE WHEN w > 0 AND var_sum > 0 THEN CAST("
            f" ((n - 1) * diff_sq * {scale}) div (2 * w * var_sum)"
            " AS BIGINT) END AS geary_c_scaled",
        )
    )


def getis_ord_gi_grid(
    cells,
    x_col: str = "cx",
    y_col: str = "cy",
    value_col: str = "val",
    top_k: int = 5,
):
    """Getis-Ord Gi* LOCAL hotspot statistic over a grid (Getis & Ord
    GeogAnal 1992/1995, the star variant that includes the focal
    cell) — the per-cell companion to the GLOBAL :func:`morans_i_grid`:
    Moran answers "is there spatial structure anywhere?", Gi* points
    AT the hot and cold cells. Rook adjacency + self, so the local
    weight Wᵢ = 1 + #neighbors ≤ 5.

    Determinism: with Lᵢ the local (self + rook) value sum,
    Aᵢ = n·Lᵢ − Wᵢ·S and D₂ = n·Σx² − S² are exact integers, and

        zᵢ = Aᵢ / sqrt(D₂·(n·Wᵢ − Wᵢ²)/(n−1))

    — one sqrt/divide/floor on doubles converted once from exact
    integers, the identical IEEE expression on both engines (the
    z_milli class). Emits the ``top_k`` hottest and ``top_k``
    coldest cells by z with a (z, cx, cy) tie-break.

    Scale shape: one bounded cell table (caller aggregates the data-
    sized input); neighbor candidates are EQUI-KEYED (each cell
    explodes its 4 rook keys + itself — never a distance cross join);
    ranking windows run over the bounded cell table.

    Returns 2·top_k rows (cx, cy, val, w_local, gi_z_milli, bucket,
    rk) with bucket ∈ {'hot', 'cold'}.
    """
    from pyspark.sql import Window, functions as F

    base = cells.select(
        F.col(x_col).cast("bigint").alias("cx"),
        F.col(y_col).cast("bigint").alias("cy"),
        F.col(value_col).cast("bigint").alias("val"),
    ).localCheckpoint(eager=True)  # consumed by totals + both join sides
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("val").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(val AS DECIMAL(38,0)) * val")).alias("s2"),
    )
    nbr = base.selectExpr(
        "explode(array("
        " struct(cx AS cx, cy AS cy, val AS v_nbr),"
        " struct(cx + 1 AS cx, cy AS cy, val AS v_nbr),"
        " struct(cx - 1 AS cx, cy AS cy, val AS v_nbr),"
        " struct(cx AS cx, cy + 1 AS cy, val AS v_nbr),"
        " struct(cx AS cx, cy - 1 AS cy, val AS v_nbr))) AS e"
    ).select("e.cx", "e.cy", "e.v_nbr")
    local = base.join(nbr, ["cx", "cy"]).groupBy("cx", "cy", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("w_local"),
        F.sum("v_nbr").cast("bigint").alias("l_sum"),
    )
    scored = local.crossJoin(F.broadcast(tot)).selectExpr(
        "cx",
        "cy",
        "val",
        "w_local",
        "CASE WHEN n > 1 AND (CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS"
        " DECIMAL(38,0)) * s) * (n * w_local - w_local * w_local) > 0"
        " THEN CAST(floor("
        "  CAST(CAST(n AS DECIMAL(38,0)) * l_sum"
        "       - CAST(w_local AS DECIMAL(38,0)) * s AS DOUBLE)"
        "  / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2"
        "              - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)"
        "         * CAST(n * w_local - w_local * w_local AS DOUBLE)"
        "         / (CAST(n AS DOUBLE) - 1e0))"
        "  * 1000e0) AS BIGINT) END AS gi_z_milli",
    ).localCheckpoint(eager=True)  # bounded; feeds both rank windows
    hot_w = Window.orderBy(
        F.col("gi_z_milli").desc(), F.col("cx").asc(), F.col("cy").asc()
    )
    cold_w = Window.orderBy(
        F.col("gi_z_milli").asc(), F.col("cx").asc(), F.col("cy").asc()
    )
    nn = scored.filter(F.col("gi_z_milli").isNotNull())
    hot = (
        nn.withColumn("rk", F.row_number().over(hot_w).cast("bigint"))
        .filter(F.col("rk") <= top_k)
        .withColumn("bucket", F.lit("hot"))
    )
    cold = (
        nn.withColumn("rk", F.row_number().over(cold_w).cast("bigint"))
        .filter(F.col("rk") <= top_k)
        .withColumn("bucket", F.lit("cold"))
    )
    return hot.unionByName(cold).select(
        "cx", "cy", "val", "w_local", "gi_z_milli", "bucket", "rk"
    )
