"""Skew & co-location tools (SURVEY §4 physical concerns).

AQE's skew-join handling covers sort-merge joins at runtime, not hot
group keys in an aggregation: :func:`salted_count` is salted
two-phase aggregation for those — partial count per (key, salt), then
final sum per key. Same result as ``groupBy(key).count()``, shuffle
spread over n subkeys. Salting adds a second aggregation shuffle, so
it is a targeted tool for measured skew, not a default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.sources.local import local_df


def salted_count(df: DataFrame, key: str, salt: int = 8) -> DataFrame:
    """``groupBy(key).count()`` in two salted phases; identical result,
    hot keys spread across ``salt`` partial groups."""
    return (
        df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
        .groupBy(key)
        .agg(F.sum("_partial").alias("count"))
    )


def hilbert_key(cols: list, bits: int = 8):
    """Hilbert-curve key for two dimensions — the space-filling curve
    behind Delta liquid clustering and Iceberg's hilbert ordering,
    and the better z-order: Morton interleaving has long diagonal
    jumps (adjacent keys up to a full grid apart), while the Hilbert
    curve is continuous (consecutive keys are ALWAYS grid neighbors),
    so equal-width key zones cover tighter spatial rectangles and
    min/max skipping prunes more on both dimensions.

    The classical per-level rotate-and-reflect walk (Warren, Hacker's
    Delight §16; the standard xy2d formulation) over the low ``bits``
    bits of each coordinate, expressed as ONE ``F.aggregate`` fold
    over the literal level array with a struct accumulator — linear
    expression size (a naive per-level ``withColumn`` unroll
    duplicates the x/y subtrees exponentially), pure JVM integer
    math, no Python. Two dimensions only (the rotation table is
    dimension-specific); callers bucket higher-cardinality keys into
    the ``2^bits`` range first, like :func:`zorder_key`.
    """
    if len(cols) != 2:
        raise ValueError(f"hilbert_key takes exactly 2 columns; got {len(cols)}")
    mask = (1 << bits) - 1
    xc, yc = [
        (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(
            F.lit(mask)
        )
        for c in cols
    ]
    levels = F.array(*[F.lit(1 << i) for i in reversed(range(bits))])
    init = F.struct(
        xc.alias("x"), yc.alias("y"), F.lit(0).cast("long").alias("d")
    )

    def step(acc, s):
        x, y, d = acc["x"], acc["y"], acc["d"]
        rx = (x.bitwiseAND(s) > 0).cast("long")
        ry = (y.bitwiseAND(s) > 0).cast("long")
        nd = d + s * s * (3 * rx).bitwiseXOR(ry)
        nx = F.when(
            ry == 0, F.when(rx == 1, s - 1 - y).otherwise(y)
        ).otherwise(x)
        ny = F.when(
            ry == 0, F.when(rx == 1, s - 1 - x).otherwise(x)
        ).otherwise(y)
        return F.struct(nx.alias("x"), ny.alias("y"), nd.alias("d"))

    return F.aggregate(levels, init, step)["d"]


def compaction_plan(
    files: DataFrame,
    partition_col: str,
    file_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance op
    (Delta OPTIMIZE / Iceberg rewrite_data_files) a 100 TB table
    needs continuously: a streaming ingest that commits every minute
    leaves thousands of KB-scale files per partition, and each one
    costs a task launch + a footer read at scan time. Given a file
    listing ``(partition, file, size)``, assign every file to an
    output bin under size-ordered NEXT-FIT: within each table
    partition, files sorted by (size DESC, file id) accumulate into
    the current bin until the running total crosses ``target_bytes``
    (descending order is the classical first-fit-decreasing
    approximation restricted to a single open bin — deterministic,
    one pass, no driver state).

    Bin ids are pure integer arithmetic over the running sum: a file
    is binned by where its byte range STARTS — ``(cum − size) div
    target + 1`` — so both engines agree exactly (both truncate
    non-negative division), and a file larger than the target always
    has its assigned bin to itself: the next file starts ≥ target
    bytes later and lands in a later id. A jumbo's cumsum jump skips
    intermediate ids, which is why ``bin_seq``/``n_files_after``
    count DISTINCT bins via dense rank, not max id.

    Shape: the input is a file LISTING (metadata scale — ~10⁶ rows
    for a 100 TB table, not the data itself); one partition-keyed
    shuffle, then per-partition windows bounded by files-per-
    partition. The planner emits assignments; executing the rewrite
    is a per-bin coalesce the caller runs.

    Output per file: ``partition``, ``file``, ``size_bytes``,
    ``cum_bytes``, ``bin_seq`` (dense 1..k within the partition),
    plus the partition summary ``n_files_before`` / ``n_files_after``
    repeated on every row.
    """
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1; got {target_bytes}")
    part = F.col(partition_col)
    w_ord = (
        Window.partitionBy(part)
        .orderBy(F.col(size_col).desc(), F.col(file_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(size_col).over(w_ord)
    assigned = files.select(
        part.alias("partition"),
        F.col(file_col).alias("file"),
        F.col(size_col).cast("long").alias("size_bytes"),
        cum.cast("long").alias("cum_bytes"),
    ).withColumn(
        # `div` = exact integer division on longs (no double detour)
        "_bin",
        F.expr(
            f"(cum_bytes - size_bytes) div {int(target_bytes)}"
        ) + 1,
    )
    w_bin = Window.partitionBy("partition").orderBy("_bin")
    w_all = Window.partitionBy("partition")
    seq = F.dense_rank().over(w_bin)
    return assigned.select(
        "partition",
        "file",
        "size_bytes",
        "cum_bytes",
        seq.alias("bin_seq"),
        F.count(F.lit(1)).over(w_all).alias("n_files_before"),
        F.max(seq).over(w_all).alias("n_files_after"),
    )


def zorder_key(cols: list, bits: int = 8):
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    already-bucketed column — the multi-dimensional clustering key
    behind Delta/Iceberg OPTIMIZE ZORDER. Writing a 100 TB table
    sorted by this key makes min/max file statistics selective on
    *every* interleaved dimension at once, so point/range predicates
    on any of them prune files (a single-column sort only prunes its
    leading column).

    Inputs must already be in ``[0, 2^bits)``; the key is a pure
    integer projection (static shifts, whole-stage codegen'd), exactly
    reproducible on any engine.
    """
    z = F.lit(0).cast("long")
    for b in range(bits):
        for c, col in enumerate(cols):
            bit = F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cols) + c)
    return z


def zorder_layout(
    df: DataFrame, cols: list, bits: int = 8, n_ranges: int = 64
) -> DataFrame:
    """Range-partitioned Z-order layout summary: assign each row's
    Morton key to one of ``n_ranges`` contiguous key ranges (the
    file-sized write buckets) and report per-range row counts and key
    bounds — the planning table a layout optimizer inspects before
    rewriting files. Output: ``range_id``, ``n_rows``, ``z_min``,
    ``z_max``.
    """
    width = (1 << (bits * len(cols))) // n_ranges
    z = zorder_key(cols, bits)
    return (
        df.select((z / width).cast("long").alias("range_id"), z.alias("z"))
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


def zone_prune_report(
    df: DataFrame,
    zone_col,
    value_col,
    lo,
    hi,
) -> DataFrame:
    """Zone-map (small-materialized-aggregates / Parquet-footer)
    data-skipping readout — the read-side complement of
    :func:`zorder_layout`'s write-side planning: per zone the min /
    max / row count of ``value_col`` plus, in the SAME aggregation,
    the count of rows matching ``lo <= value <= hi``; a zone is
    scanned iff its [min, max] intersects [lo, hi]. Reports how much
    of the table a predicate on a clustered-but-not-partitioned
    column skips (insert-ordered ids, timestamps riding a date
    layout, Z-ordered dimensions) — the number a 100 TB layout
    decision is made on.

    Self-certifying: ``certificate_ok`` asserts that zero matching
    rows live in skipped zones — the min/max containment invariant
    that makes skipping SOUND, verified against the same scan rather
    than assumed.

    ONE scan, one zone-keyed partial aggregation (zone cardinality
    keys), one zone-table fold. Output (one row): ``n_zones``,
    ``zones_scanned``, ``rows_total``, ``rows_scanned``,
    ``rows_matching``, ``skip_fraction`` (6 dp), ``certificate_ok``.
    """
    z = F.col(zone_col) if isinstance(zone_col, str) else zone_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    match = v.between(F.lit(lo), F.lit(hi))
    zones = df.groupBy(z.alias("_z")).agg(
        F.min(v).alias("_mn"),
        F.max(v).alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
        F.sum(match.cast("long")).alias("_nm"),
    )
    scan = (F.col("_mx") >= F.lit(lo)) & (F.col("_mn") <= F.lit(hi))
    return zones.agg(
        F.count(F.lit(1)).alias("n_zones"),
        F.sum(scan.cast("long")).alias("zones_scanned"),
        F.sum("_n").alias("rows_total"),
        F.sum(F.when(scan, F.col("_n")).otherwise(F.lit(0))).alias(
            "rows_scanned"
        ),
        F.sum("_nm").alias("rows_matching"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(scan, F.col("_n")).otherwise(F.lit(0)))
            / F.sum("_n"),
            6,
        ).alias("skip_fraction"),
        (
            F.sum(F.when(~scan, F.col("_nm")).otherwise(F.lit(0))) == 0
        ).alias("certificate_ok"),
    )


def bloom_zone_report(
    df: DataFrame,
    zone_col,
    key_col,
    probe,
    bits: int = 63,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter zone skipping for EQUALITY probes — the skipping
    primitive min/max zone maps cannot provide (SC8c; Parquet bloom
    filters / Delta bloom indexes): when a zone's few distinct keys
    are SPREAD across the key domain (hashed tenant / session /
    content ids — high cardinality, no range clustering), every
    zone's [min, max] spans everything and range skipping collapses
    to 0%, but a per-zone Bloom bitmap of the keys actually present
    stays sparse and prunes almost every zone.

    Per row: ``k`` seeded :func:`stable_hash32` probes OR'd into a
    ``bits``-wide mask (63 keeps ``2^pos`` inside a signed BIGINT —
    the md5 twin means the oracle reproduces every bit); per zone the
    masks ``bit_or`` together. A zone is scanned iff its bloom
    CONTAINS the probe's mask. min/max stats ride the SAME
    aggregation, so the output is a measured HEAD-TO-HEAD of the two
    skipping strategies on the same probe — plus the soundness
    certificate (zero matching rows in bloom-skipped zones; Bloom
    filters have false positives, never false negatives, and the
    certificate verifies exactly that).

    ONE scan, one zone-keyed partial aggregation, one zone-table
    fold. Output (one row): ``n_zones``, ``zones_scanned_bloom``,
    ``zones_scanned_minmax``, ``rows_total``, ``rows_scanned_bloom``,
    ``rows_scanned_minmax``, ``rows_matching``,
    ``skip_fraction_bloom``, ``skip_fraction_minmax`` (6 dp),
    ``certificate_ok``.
    """
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    z = F.col(zone_col) if isinstance(zone_col, str) else zone_col
    key = F.col(key_col) if isinstance(key_col, str) else key_col

    def mask_of(col):
        m = None
        for i in range(k):
            pos = stable_hash32(col.cast("string"), seed=i) % bits
            bit = F.pow(F.lit(2.0), pos.cast("double")).cast("long")
            m = bit if m is None else m.bitwiseOR(bit)
        return m

    probe_lit = F.lit(probe)
    zones = df.groupBy(z.alias("_z")).agg(
        F.bit_or(mask_of(key)).alias("_bloom"),
        F.min(key).alias("_mn"),
        F.max(key).alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
        F.sum((key == probe_lit).cast("long")).alias("_nm"),
    )
    probe_mask = mask_of(probe_lit)
    scan_b = F.col("_bloom").bitwiseAND(probe_mask) == probe_mask
    scan_r = (F.col("_mx") >= probe_lit) & (F.col("_mn") <= probe_lit)
    return zones.agg(
        F.count(F.lit(1)).alias("n_zones"),
        F.sum(scan_b.cast("long")).alias("zones_scanned_bloom"),
        F.sum(scan_r.cast("long")).alias("zones_scanned_minmax"),
        F.sum("_n").alias("rows_total"),
        F.sum(F.when(scan_b, F.col("_n")).otherwise(F.lit(0))).alias(
            "rows_scanned_bloom"
        ),
        F.sum(F.when(scan_r, F.col("_n")).otherwise(F.lit(0))).alias(
            "rows_scanned_minmax"
        ),
        F.sum("_nm").alias("rows_matching"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(scan_b, F.col("_n")).otherwise(F.lit(0)))
            / F.sum("_n"),
            6,
        ).alias("skip_fraction_bloom"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(scan_r, F.col("_n")).otherwise(F.lit(0)))
            / F.sum("_n"),
            6,
        ).alias("skip_fraction_minmax"),
        (
            F.sum(F.when(~scan_b, F.col("_nm")).otherwise(F.lit(0))) == 0
        ).alias("certificate_ok"),
    )


def compaction_execute(
    df: DataFrame,
    plan: DataFrame,
    partition_expr,
    file_expr,
    out_dir: str,
    checksum_cols: list[str],
) -> DataFrame:
    """EXECUTE a compaction plan — the rewrite half of
    :func:`compaction_plan` (Delta OPTIMIZE's second phase): every
    fact row joins its (partition, file) key to the plan's bin
    assignment, the table shuffles on (partition, bin) so each output
    bin is exactly one task's write, and a dynamic-partitioned
    parquet commit lays one file per bin on disk. Then the rewrite
    PROVES itself: the order-independent XOR checksum
    (:func:`analytics.table_checksum`) of the read-back equals the
    original's — content invariance is verified, not assumed (the
    zone-map certificate discipline applied to maintenance) — and
    the physical file count is compared against the plan's bin
    count.

    ATOMIC since r14: the rewrite lands in a fresh VERSIONED data
    directory and becomes visible only through the snapshot-manifest
    pointer swap (:mod:`..operators.snapshots` — one ``os.replace``),
    so a reader concurrent with the rewrite resolves the OLD snapshot
    until the new one is fully written, a crash mid-write leaves a
    torn-but-invisible directory that replay overwrites, and the
    previous layout stays readable as ``version=N-1`` time travel.
    The verification reads back THROUGH the committed manifest (the
    exact file list), never by listing the directory.

    The four verification aggregates are 1-row reports (bounded
    driver state, like the cardinality guards). Output (one row):
    ``n_rows``, ``checksum_before``, ``checksum_after``,
    ``checksums_match``, ``n_files_before``, ``n_files_after``
    (plan bins), ``files_written`` (on disk), ``layout_matches_plan``.
    """
    from isilon_hadoop_tools_spark.operators.analytics import (
        table_checksum,
    )
    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_read,
        snapshot_write,
    )

    spark = df.sparkSession
    assign = plan.select(
        F.col("partition").cast("string").alias("_p"),
        F.col("file").alias("_f"),
        "bin_seq",
    )
    tagged = (
        df.withColumn("_p", partition_expr.cast("string"))
        .withColumn("_f", file_expr.cast("long"))
        .join(assign, ["_p", "_f"])
    )
    # NUMBERED repartition: the un-numbered form is AQE-coalesced by
    # shuffle bytes (3 post-coalesce write tasks at sf0.1, each
    # sequentially committing ~400 dynamic partition dirs — 11 s of
    # the 21 s wall); the numbered form keeps shuffle.partitions
    # writers. Rows of one (_p, bin_seq) still hash to ONE task, so
    # the one-file-per-bin layout is unchanged.
    from isilon_hadoop_tools_spark.session import shuffle_partition_count

    npart = max(2, shuffle_partition_count(spark))
    version = snapshot_write(
        tagged.repartition(npart, F.col("_p"), F.col("bin_seq")),
        out_dir,
        partition_by=["_p", "bin_seq"],
    )
    before = table_checksum(df, checksum_cols).collect()[0]
    back = snapshot_read(spark, out_dir, version)
    # ONE read-back pass for checksum + physical-file count (the
    # split form listed and scanned the 1200-file output twice)
    _row = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in checksum_cols]
    )
    from isilon_hadoop_tools_spark.functions.hashing import fingerprint64

    after = (
        back.select(
            fingerprint64(_row).alias("_fp"),
            F.input_file_name().alias("_file"),
        )
        .agg(
            F.bit_xor("_fp").alias("checksum"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("_file").alias("files_written"),
        )
        .collect()[0]
    )
    files_written = int(after["files_written"])
    plan_counts = assign.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("_p", "bin_seq").alias("bins"),
    ).collect()[0]
    n_files_before = int(plan_counts["n"])
    n_files_after = int(plan_counts["bins"])
    row = (
        int(before["n_rows"]),
        int(before["checksum"]),
        int(after["checksum"]),
        bool(
            before["checksum"] == after["checksum"]
            and before["n_rows"] == after["n_rows"]
        ),
        int(n_files_before),
        int(n_files_after),
        int(files_written),
        bool(files_written == n_files_after),
    )
    return local_df(
        spark, [row],
        "n_rows LONG, checksum_before LONG, checksum_after LONG,"
        " checksums_match BOOLEAN, n_files_before LONG,"
        " n_files_after LONG, files_written LONG,"
        " layout_matches_plan BOOLEAN",
    )


def layout_write_footer_stats(
    df: DataFrame,
    key_expr,
    tiebreak_col: str,
    value_expr,
    out_dir: str,
    rows_per_file: int = 1024,
    lo: int = 0,
    hi: int = 0,
) -> DataFrame:
    """Layout WRITE with footer-verified zone maps — the physical
    proof behind SC8/SC8b/SC8d's modeled skipping: rows are ordered
    by the clustering key, cut into ``rows_per_file`` zones, written
    as real parquet (one file per zone), and then the REAL
    min/max/count statistics are read back out of the parquet FOOTERS
    with pyarrow and compared to the logically-computed zone stats —
    if they match, the min/max pruning the zone model promised is
    exactly what any engine reading these footers will do.

    Zone assignment is the two-phase global rank
    (``corpus._ordered_row_number`` — range partition + driver
    offsets, never a single-partition window) over ``(key,
    tiebreak)``, so the file boundaries are deterministic and
    100×-safe; the write shuffles on the zone id (one task per file,
    the :func:`compaction_execute` shape); the footer walk is
    driver-side METADATA work bounded by the file count.

    Output per zone: ``zone``, ``n_rows``, ``mn``, ``mx`` (all from
    the FOOTERS), ``scanned`` (zone intersects [lo, hi]), and
    ``footer_ok`` (footer stats equal the logically-computed ones).
    """
    from isilon_hadoop_tools_spark.operators.corpus import (
        _ordered_row_number,
    )

    spark = df.sparkSession
    base = df.select(
        key_expr.cast("long").alias("_k"),
        F.col(tiebreak_col).alias("_t"),
        value_expr.cast("long").alias("vb"),
    )
    ranked = _ordered_row_number(base, "_k", ["_t"], out="_rn")
    zoned = ranked.withColumn(
        "_zone", F.expr(f"(_rn - 1) div {int(rows_per_file)}")
    )
    # atomic snapshot commit (r14): the zone files become visible only
    # through the manifest pointer swap, and the footer walk below
    # reads the MANIFEST's file list — a torn concurrent write or a
    # stray file in the directory can never leak into the stats
    from isilon_hadoop_tools_spark.operators.snapshots import (
        read_manifest,
        snapshot_write,
    )

    version = snapshot_write(
        zoned.select("vb", "_zone").repartition(F.col("_zone")),
        out_dir,
        partition_by=["_zone"],
    )
    computed = {
        r["_zone"]: (r["n"], r["mn"], r["mx"])
        for r in zoned.groupBy("_zone")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vb").alias("mn"),
            F.max("vb").alias("mx"),
        )
        .collect()
    }
    import pathlib

    import pyarrow.parquet as pq

    m = read_manifest(out_dir, version)
    data_dir = pathlib.Path(out_dir) / m["data_dir"]
    rows = []
    for rel in m["files"]:
        p = data_dir / rel
        zone = int(p.parent.name.split("=", 1)[1])
        md = pq.ParquetFile(str(p)).metadata
        n = md.num_rows
        mns, mxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            mns.append(st.min)
            mxs.append(st.max)
        mn, mx = min(mns), max(mxs)
        want = computed.get(zone)
        rows.append(
            (
                zone,
                n,
                mn,
                mx,
                bool(mx >= lo and mn <= hi),
                want == (n, mn, mx),
            )
        )
    return local_df(
        spark, sorted(rows),
        "zone LONG, n_rows LONG, mn LONG, mx LONG,"
        " scanned BOOLEAN, footer_ok BOOLEAN",
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    small_key_col: str | None = None,
    m_bits: int = 8192,
    k_hashes: int = 3,
    seed_base: int = 97,
) -> DataFrame:
    """Semi-join reduction via a driver-folded Bloom bitmap (SC11 --
    "sideways information passing", the LIP/bloom-join every warehouse
    engine applies when a big probe side meets a selective build
    side): the small side's DISTINCT keys fold into an ``m_bits``-wide
    bitmap on the driver (bounded by ``m_bits``, never by data size --
    the collect is of distinct BIT POSITIONS, <= m_bits rows), and the
    big side then streams through a PURE PROJECTION testing
    ``k_hashes`` md5-derived bit positions per key: the overwhelming
    majority of non-matching rows are dropped map-side BEFORE any
    exchange. Only the (rare) Bloom-passing rows meet the exact key
    set, so the result equals the exact left-semi join -- false
    positives are verified away, never returned.

    This generalizes the L38 gram-level prefilter
    (``corpus.decontaminate_bloom``) to the relational surface: at
    100 TB the probe side never shuffles its misses, which is the
    entire cost of a naive semi join with a non-broadcastable right
    side.
    """
    skey = small_key_col or key_col
    keys = small.select(F.col(skey).cast("string").alias("_k")).distinct()
    set_bits = bloom_build_bits(
        keys, "_k", m_bits=m_bits, k_hashes=k_hashes, seed_base=seed_base
    )
    probe = F.col(key_col).cast("string")
    candidates = big.filter(
        bloom_probe_cond(
            probe, set_bits,
            m_bits=m_bits, k_hashes=k_hashes, seed_base=seed_base,
        )
    )
    return candidates.join(
        keys.select(F.col("_k")),
        probe == F.col("_k"),
        "left_semi",
    )


def _bloom_bit_positions(col, m_bits: int, k_hashes: int, seed_base: int):
    from isilon_hadoop_tools_spark.functions.hashing import stable_hash32

    return [
        F.pmod(stable_hash32(col, seed_base + j), F.lit(m_bits))
        for j in range(k_hashes)
    ]


def bloom_build_bits(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k_hashes: int = 3,
    seed_base: int = 97,
) -> set:
    """The SC11 bitmap's SET-BIT set, folded on the driver: the
    collect is of distinct BIT POSITIONS (<= m_bits rows), never of
    keys — bounded by the bitmap regardless of build-side size."""
    return {
        r["bit"]
        for r in keys.select(
            F.explode(
                F.array(
                    *_bloom_bit_positions(
                        F.col(key_col).cast("string"),
                        m_bits, k_hashes, seed_base,
                    )
                )
            ).alias("bit")
        )
        .distinct()
        .collect()
    }


def bloom_probe_cond(
    probe_col,
    set_bits: set,
    m_bits: int = 8192,
    k_hashes: int = 3,
    seed_base: int = 97,
):
    """The map-side Bloom test over a probe column: ``k_hashes`` bit
    lookups against the bitmap embedded as ONE parsed literal array
    (the hyperplane-literal precedent — element-wise F.lit assembly
    costs m driver->JVM round-trips; a parsed string costs one).
    Composable with any probe plan; also consumes a bitmap maintained
    by the STREAMING index (``streaming.neardup.bloom_index_*``)."""
    probe = (
        F.col(probe_col).cast("string")
        if isinstance(probe_col, str)
        else probe_col.cast("string")
    )
    bitmap = F.expr(
        "array("
        + ",".join(
            "true" if b in set_bits else "false" for b in range(m_bits)
        )
        + ")"
    )
    cond = None
    for bit in _bloom_bit_positions(probe, m_bits, k_hashes, seed_base):
        t = F.get(bitmap, bit.cast("int"))
        cond = t if cond is None else (cond & t)
    return cond
