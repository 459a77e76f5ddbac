"""Registry entries for the engine's non-relational surfaces:

- the scalar UDF exemplar (the reference's record→text serializer,
  Q10) in both pure-expression and pandas_udf form — same oracle;
- the grouped-map applyInPandas fit (X14) — checked against the
  closed-form least-squares SQL;
- the external-process pipe stage (the jdftx stage shape) — oracle
  reproduces the child process's printf-formatted arithmetic;
- multimodal binary decode plumbing (mapInPandas, stub decoder);
- Structured Streaming window queries (X10) executed with
  availableNow into memory sinks — tumbling/sliding replay-checked
  against exact SQL, session windows rows-only (watermark tail
  emission is engine-defined).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.hashing import det_hash_i64
from .functions.text import DUCKDB_TOKENS
from .operators import echem, multimodal, pipe, udfs
from .registry import (
    _SESSION_BOUNDARY_SQL,
    _TUMBLING_SQL,
    _cents,
    _daily_cents,
    _daily_cents_sql,
    _ld,
    _register,
)


def _scratch_dir(prefix: str) -> str:
    """``mkdtemp`` with leak reclamation for the write-then-read-back
    fixtures. Dirs are named ``<prefix><pid>_<rand>``; before creating
    a new one, same-prefix dirs left behind by DEAD processes (a crash
    or exception between mkdtemp and rmtree in a previous run) are
    pruned, so repeated bench/parity runs cannot grow /tmp without
    bound — at most one leaked dir per live process can exist. Call
    sites additionally wrap their bodies in try/finally rmtree, so the
    pruning is a second line of defense, not the only one."""
    import os
    import re
    import shutil
    import tempfile
    from pathlib import Path

    pat = re.compile(re.escape(prefix) + r"(\d+)_")
    for p in Path(tempfile.gettempdir()).glob(prefix + "*"):
        m = pat.match(p.name)
        if m is None or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)  # liveness probe, no signal sent
        except ProcessLookupError:
            shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # live (or unprobeable) process — leave its dir alone
    return tempfile.mkdtemp(prefix=f"{prefix}{os.getpid()}_")


def _literal_result(spark, df):
    """Materialize ``df`` into a LITERAL frame: collect the rows and
    rebuild them as a ``createDataFrame`` LocalRelation.

    Used as the terminal step of every write-then-read-back registry
    query (sink round-trips, MERGE/time-travel snapshots, compaction
    fixtures): the returned plan holds the values THEMSELVES, with zero
    dependence on sink files (deleted before return), checkpoint blocks,
    the block manager, or any later session event — a localCheckpoint'd
    frame is still backed by runtime state whose lifetime Spark's
    ContextCleaner manages, and round 3/4 driver runs showed that state
    can be invalidated by harness session usage no local reproduction
    triggers. Every call site returns a small aggregate (tens to a few
    tens of thousands of skinny rows — test fixtures, not the 100 TB
    path), so driver-side collection is bounded by design; production
    pipelines would keep the sink and skip the read-back entirely.
    """
    rows = df.collect()
    return spark.createDataFrame(rows, df.schema)


def _runs_grid(spark, sf_dir):
    """nation × charges with a synthetic per-run lattice + ion list —
    reference-shaped inputs (D4) derived from the standard corpus."""
    n = _ld(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("double")
    rk = F.col("n_regionkey").cast("double")
    lattice = F.array(
        F.array(nk + 1.0, F.lit(0.5), F.lit(0.0)),
        F.array(F.lit(0.25), rk + 2.0, F.lit(0.0)),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(2.0)),
    )
    ions = F.array(
        F.concat(F.lit("v"), F.col("n_nationkey").cast("string")), F.lit("o")
    )
    return n.select(
        "n_nationkey",
        echem.charge_grid(),
        lattice.alias("lattice"),
        ions.alias("ion_names"),
    )


_SERIALIZER_ORACLE = """
    WITH g AS (
        SELECT n_nationkey, charge,
               [[CAST(n_nationkey AS DOUBLE) + 1.0, 0.5, 0.0],
                [0.25, CAST(n_regionkey AS DOUBLE) + 2.0, 0.0],
                [0.0, 0.0, 2.0]] AS lat,
               ['v' || CAST(n_nationkey AS VARCHAR), 'o'] AS ions
        FROM nation
        CROSS JOIN (VALUES (CAST(-0.1 AS DOUBLE)), (CAST(0.0 AS DOUBLE)),
                           (CAST(0.1 AS DOUBLE))) c(charge)
    )
    SELECT n_nationkey, charge,
           concat_ws(chr(10),
               'lattice \\',
               printf('%.6f %.6f %.6f', lat[1][1], lat[2][1], lat[3][1]),
               printf('%.6f %.6f %.6f', lat[1][2], lat[2][2], lat[3][2]),
               printf('%.6f %.6f %.6f', lat[1][3], lat[2][3], lat[3][3]),
               'ion ' || ions[1] || chr(10) || 'ion ' || ions[2],
               'coords-type Cartesian',
               printf('elec-initial-charge %.2f', charge)) AS deck
    FROM g
    """


@_register(
    "q10_serializer_expr",
    oracle=_SERIALIZER_ORACLE,
    survey_ids=("Q10", "Q13", "Q15"),
)
def q10_serializer_expr(spark, sf_dir):
    """The write_jdftx record→text serializer (utils.py:3-48) as a pure
    column expression — lattice transposed like the reference
    (utils.py:11), printf-formatted so the text is byte-reproducible.
    Zero Python in the plan."""
    runs = _runs_grid(spark, sf_dir)
    return runs.select(
        "n_nationkey",
        "charge",
        udfs.serialize_run_expr(
            F.col("lattice"), F.col("charge"), F.col("ion_names")
        ).alias("deck"),
    )


@_register(
    "q10_serializer_pandas_udf",
    oracle=_SERIALIZER_ORACLE,
    survey_ids=("Q10", "X14"),
)
def q10_serializer_pandas_udf(spark, sf_dir):
    """Same serializer through the Arrow-batched pandas_udf surface —
    the driver checks it against the identical oracle, proving the UDF
    path is byte-equivalent to the expression path."""
    runs = _runs_grid(spark, sf_dir)
    udf = udfs.make_serialize_run_udf()
    return runs.select(
        "n_nationkey",
        "charge",
        udf(F.col("lattice"), F.col("charge"), F.col("ion_names")).alias("deck"),
    )


@_register(
    "x14_grouped_fit_pandas",
    oracle="""
    WITH m AS (SELECT l_suppkey AS slab_id,
                      CAST(l_quantity AS BIGINT) AS x,
                      CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
               FROM lineitem),
    f AS (SELECT slab_id, COUNT(*) AS n_obs,
                 SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
          FROM m GROUP BY slab_id)
    SELECT slab_id,
           ROUND(CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / CAST(n_obs * sxx - sx * sx AS DOUBLE) / 100.0, 2) AS slope,
           ROUND((CAST(sy AS DOUBLE) - CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  / CAST(n_obs * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE) / 100.0, 2) AS intercept,
           n_obs
    FROM f
    """,
    survey_ids=("X14", "Q20"),
)
def x14_grouped_fit_pandas(spark, sf_dir):
    """Per-group np.polyfit via applyInPandas (X14) — the reference's
    exact fit call (my_dag.py:171) on the grouped-map UDF surface.
    Outputs rounded to 2 decimals: the SQL oracle computes the
    closed-form least squares; polyfit's SVD path agrees to ~1e-9
    relative, far inside the rounding."""
    li = _ld(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("slab_id"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    fit = udfs.fit_per_group_pandas(li)
    return fit.select(
        "slab_id",
        F.round("slope", 2).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        "n_obs",
    )


@_register(
    "x14_udaf_median",
    oracle="""
    SELECT l_returnflag,
           CAST(MEDIAN(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS median_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey_ids=("X14", "X6"),
)
def x14_udaf_median(spark, sf_dir):
    """Custom aggregate via a GROUPED_AGG pandas UDF (X14) — the UDAF
    quadrant of the UDF surface (scalar=q10 serializer, grouped-map=
    x14_grouped_fit_pandas, map-iter=mm decode; this is the reduction).
    Exact median of integer quantities: selection + one midpoint mean,
    order-independent, so the Arrow-batched reduction is deterministic
    and DuckDB's MEDIAN replays it exactly. Note the scale contract of
    a grouped-agg UDF: the whole group materializes per call (fine for
    bounded groups like the 3 return flags; unbounded groups belong in
    partial-aggregable built-ins instead)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: under `from __future__ import annotations`
    # the (Series) -> float hints are strings, so inference can't see
    # the aggregating signature
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_udaf(v):
        return float(v.median())

    # grouped-agg UDFs can't mix with built-in aggregates in one agg,
    # so the row count is a second UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def count_udaf(v):
        return len(v)

    li = _ld(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    )
    return li.groupBy("l_returnflag").agg(
        median_udaf(F.col("q")).alias("median_qty"),
        count_udaf(F.col("q")).alias("n"),
    )


@_register(
    "x14_udtf_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCKDB_TOKENS.format(col='text')} AS toks
               FROM documents),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks, n, unnest(range(0, n, 8)) AS start FROM s)
    SELECT doc_id,
           CAST(start // 8 AS INT) AS chunk_id,
           array_to_string(list_slice(toks, start + 1, LEAST(start + 16, n)),
                           ' ') AS chunk,
           CAST(LEAST(16, n - start) AS INT) AS n_tokens
    FROM c
    """,
    survey_ids=("X14", "X13"),
)
def x14_udtf_chunks(spark, sf_dir):
    """Python UDTF surface (X14): overlapping token-window chunking
    (16-token windows, stride 8 — the RAG/embedding chunk expansion)
    registered as a table function and invoked through a SQL LATERAL
    join. The expression form (explode(sequence) + slice) is the
    100 TB fast path and is asserted row-identical in tests.
    operators/chunking.py."""
    from .operators.chunking import chunk_documents_udtf

    return chunk_documents_udtf(spark, _ld(spark, sf_dir, "documents"))


@_register(
    "x14_udtf_table_args",
    oracle="""
    WITH s AS (SELECT s_nationkey, s_suppkey,
                      CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS c
               FROM supplier),
    g AS (SELECT s_nationkey,
                 c - LAG(c) OVER (PARTITION BY s_nationkey
                                  ORDER BY c NULLS FIRST, s_suppkey) AS gap
          FROM s)
    SELECT s_nationkey, COUNT(*) AS n_rows,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_cents
    FROM g GROUP BY 1
    """,
    survey_ids=("X14", "X4"),
)
def x14_udtf_table_args(spark, sf_dir):
    """TABLE-argument UDTF with PARTITION BY / ORDER BY (X14's grouped
    table function, Spark 4): per nation, the largest gap between
    consecutive supplier balances in sorted order — an order-dependent
    per-group statistic streamed through one UDTF instance per
    partition (engine-guaranteed), O(1) state, summary from
    terminate(). The oracle replays it as the window+re-aggregate
    expression form, which is also the documented 100 TB fast path.
    operators/udfs.py::make_nation_gaps_udtf."""
    from .operators.udfs import make_nation_gaps_udtf
    from .sources import register_views

    register_views(spark, sf_dir)
    spark.udtf.register("nation_gaps", make_nation_gaps_udtf())
    return spark.sql("""
        SELECT s_nationkey, n_rows, max_gap_cents
        FROM nation_gaps(
            TABLE(SELECT s_nationkey, s_suppkey,
                         CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)
                             AS bal_cents
                  FROM supplier)
            PARTITION BY s_nationkey
            ORDER BY (bal_cents, s_suppkey))
    """)


@_register(
    "pipe_external_solver",
    oracle="""
    SELECT n.n_name || '_' || printf('%.1f', c.charge) AS run_id,
           CAST(printf('%.6f', -0.2 + 0.05 * c.charge) AS DOUBLE) AS mu,
           CAST(printf('%.3f', 250 + 10 * c.charge) AS DOUBLE) AS ne
    FROM nation n
    CROSS JOIN (VALUES (CAST(-0.1 AS DOUBLE)), (CAST(0.0 AS DOUBLE)),
                       (CAST(0.1 AS DOUBLE))) c(charge)
    """,
    survey_ids=("S2", "Q15"),
)
def pipe_external_solver(spark, sf_dir):
    """The external-solver pipe stage (my_dag.py:135): every partition
    is piped through a real child process (awk standing in for jdftx)
    by a SQL TRANSFORM and its stdout parsed back into rows. The oracle
    reproduces the child's printf-rounded arithmetic exactly, so even
    the float formatting round-trip is checked."""
    n = _ld(spark, sf_dir, "nation")
    runs = n.select("n_name", echem.charge_grid()).select(
        echem.run_key(F.col("n_name"), F.col("charge")).alias("run_id"), "charge"
    )
    return pipe.pipe_solver_stub(runs)


#: Per-document geometry of the multimodal oracles: the text bytes as
#: hex ``hx``, their count ``L`` and the ``w`` x ``h`` pixel grid —
#: mirrors operators/multimodal.py's payload builders.
_MM_DOC_COLS = """doc_id,
                      hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS L,
                      ((doc_id % 4) + 1) * 4 AS w,
                      ((doc_id % 3) + 1) * 4 AS h"""


def _mm_resize_checksum_sql() -> str:
    """Closed-form re-derivation of the nearest-neighbor resize
    checksum: resized flat index t → (row i, col j, channel c) →
    source pixel byte ((2i·w + 2j)·3 + c), cycled over the text bytes."""
    nw3 = "((w // 2) * 3)"
    i = f"(t // {nw3})"
    j = f"((t % {nw3}) // 3)"
    c = "(t % 3)"
    src = f"((({i} * 2 * w + {j} * 2) * 3 + {c}) % L)"
    # COALESCE: an empty text (L = 0) makes `% L` NULL-out every element
    # while the Python side zero-fills — the checksum of a zero fill is 0
    return (
        f"COALESCE(list_sum(list_transform(range(0, (h // 2) * (w // 2) * 3), "
        f"t -> ('0x' || substr(hx, {src} * 2 + 1, 2))::BIGINT)), 0)"
    )


@_register(
    "mm_resize_bmp",
    oracle=f"""
    WITH d AS (SELECT {_MM_DOC_COLS}
               FROM documents)
    SELECT doc_id,
           CAST(w AS INTEGER) AS old_w,
           CAST(h AS INTEGER) AS old_h,
           CAST(w // 2 AS INTEGER) AS new_w,
           CAST(h // 2 AS INTEGER) AS new_h,
           CAST((w // 2) * (h // 2) * 3 AS BIGINT) AS out_n_bytes,
           CAST({_mm_resize_checksum_sql()} AS BIGINT) AS pixel_checksum
    FROM d
    """,
    survey_ids=("X14",),
)
def mm_resize_bmp(spark, sf_dir):
    """Multimodal resize stage: nearest-neighbor 2x downsample over the
    real BMP payloads — geometry parsed from the actual header, resized
    pixel grid checksummed byte-exactly; the oracle re-derives every
    resized byte from the cycled text fill.
    operators/multimodal.py::resize_bmp_batch."""
    docs = _ld(spark, sf_dir, "documents")
    return multimodal.resize_bmp_batch(multimodal.build_bmp_payload(docs))




#: BMP header fields and leading-pixel byte-sum per document — one
#: oracle for the file-drop and parquet-payload ingestion twins.
_BMP_DECODE_SQL = f"""
    WITH d AS (SELECT {_MM_DOC_COLS}
               FROM documents)
    SELECT doc_id,
           CAST(54 + w * h * 3 AS BIGINT) AS n_bytes,
           'image/bmp' AS format,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(COALESCE(list_sum(list_transform(range(0, least(64, w * h * 3)),
                i -> ('0x' || substr(hx, (i % L) * 2 + 1, 2))::BIGINT)), 0)
             AS BIGINT) AS feature_sum
    FROM d
    """


@_register(
    "mm_decode_features",
    oracle=_BMP_DECODE_SQL,
    survey_ids=("X14",),
)
def mm_decode_features(spark, sf_dir):
    """Multimodal image decode, end-to-end on REAL bytes AND a real
    file-format source: each document is encoded once as a valid
    24-bpp BMP FILE on disk (one file per doc — the reference's
    one-POSCAR-per-material sink shape, my_dag.py:40-44), the corpus is
    scanned back through ``spark.read.format("binaryFile")`` (SURVEY
    §2.1's named ingestion source), and decode_batch parses the actual
    BITMAPFILEHEADER / BITMAPINFOHEADER from the scanned bytes (magic,
    pixel offset, dimensions) and byte-sums the leading pixels —
    nothing is read from metadata. The oracle re-derives every header
    field and the pixel byte-sum from first principles (hex-string
    byte extraction keeps it byte-exact for non-ASCII text too).
    operators/multimodal.py."""
    docs = _ld(spark, sf_dir, "documents")
    files_dir = multimodal.materialize_bmp_files(spark, sf_dir, docs)
    return multimodal.decode_batch(multimodal.read_bmp_files(spark, files_dir))


@_register(
    "mm_decode_features_parquet",
    oracle=_BMP_DECODE_SQL,
    survey_ids=("X14",),
)
def mm_decode_features_parquet(spark, sf_dir):
    """The COLUMNAR-ingestion twin of ``mm_decode_features``: identical
    BMP bytes and identical decode, but the payload arrives as a
    ``binary`` column in parquet (one columnar round-trip through the
    on-disk fixture) instead of one file per document through
    ``binaryFile``. Registering both layouts value-checks the scale
    path — at 100 TB the per-record-file layout is the classic
    small-files killer (listing and task scheduling scale with
    document count), while the parquet payload column keeps the scan
    a bounded columnar read; ``binaryFile`` remains the right source
    for genuine file-drop ingestion at the edge. Same oracle as the
    file-drop twin: the decoded features must not depend on the
    ingestion layout. operators/multimodal.py::materialize_bmp_parquet.
    """
    docs = _ld(spark, sf_dir, "documents")
    pq_dir = multimodal.materialize_bmp_parquet(spark, sf_dir, docs)
    return multimodal.decode_batch(spark.read.parquet(pq_dir))


@_register(
    "mm_decode_features_png",
    oracle=f"""
    WITH d AS (SELECT {_MM_DOC_COLS}
               FROM documents)
    SELECT doc_id,
           'image/png' AS format,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h * 3 AS BIGINT) AS n_pixel_bytes,
           CAST(COALESCE(list_sum(list_transform(range(0, least(64, w * h * 3)),
                i -> ('0x' || substr(hx, (i % L) * 2 + 1, 2))::BIGINT)), 0)
             AS BIGINT) AS feature_sum
    FROM d
    """,
    survey_ids=("X14",),
)
def mm_decode_features_png(spark, sf_dir):
    """The ENTROPY-CODED codec twin of ``mm_decode_features``: each
    document becomes a real 8-bit RGB PNG (zlib-deflated filtered
    scanlines, CRC'd chunks — stdlib-only encoder) and the decode
    stage runs the genuine inverse (IDAT reassembly → inflate →
    scanline unfilter) before featurizing the RECONSTRUCTED pixels.
    What this adds over BMP: the container length is data-dependent
    (compression), so the contract shifts to pixel-array geometry —
    the oracle predicts width/height/n_pixel_bytes/feature_sum from
    first principles and CANNOT predict the compressed size; a green
    row therefore proves a real compress→decompress round-trip, not
    header echoing. Same pixel fill as the BMP twins, so one oracle
    formula covers every codec.
    operators/multimodal.py::png_bytes/decode_png/decode_image_batch."""
    docs = _ld(spark, sf_dir, "documents")
    return multimodal.decode_image_batch(multimodal.build_png_payload(docs))


# =====================================================================
# Structured Streaming (X10): availableNow replays into memory sinks
# =====================================================================


@_register(
    "x10_stream_tumbling",
    oracle=_TUMBLING_SQL,
    survey_ids=("X10", "X9"),
)
def x10_stream_tumbling(spark, sf_dir):
    """Streaming tumbling-window counts with watermark, replayed
    bounded (availableNow) in complete mode — results provably equal
    the batch form, which is the oracle (SURVEY §7 streaming-state
    risk: keep streaming a thin layer over batch-tested expressions)."""
    from .streaming.windows import read_events_stream, run_to_memory, tumbling_counts

    stream = tumbling_counts(read_events_stream(spark, sf_dir), "1 hour", "2 hours")
    return run_to_memory(stream, spark, mode="complete")


@_register(
    "x10_stream_trending",
    oracle="""
    WITH c AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, event_type)
                    AS rk
        FROM c
    )
    SELECT window_start, event_type, n_events, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= 3
    """,
    survey_ids=("X10", "X1"),
)
def x10_stream_trending(spark, sf_dir):
    """Per-window trending top-k (the continuous 'trending topics'
    shape): the streaming tumbling aggregation maintains per-(window,
    type) counts under a watermark; the RANKING runs as a thin batch
    window function over the replayed result — exactly how production
    deployments split it (the stream keeps mergeable per-window
    state; top-k is a cheap per-window sort on the serving side,
    because a distributed rank inside the stream would need
    complete-window state anyway). Ties break lexically so the row
    set is engine-exact; oracle replays both layers from the raw
    events."""
    from pyspark.sql.window import Window as W

    from .streaming.windows import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    stream = tumbling_counts(
        read_events_stream(spark, sf_dir), "1 hour", "2 hours"
    )
    counts = run_to_memory(stream, spark, mode="complete")
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n_events", "rk")
    )


@_register(
    "x10_stream_sliding",
    oracle="""
    WITH b AS (SELECT time_bucket(INTERVAL 30 MINUTES, ts) AS w1 FROM events),
    starts AS (SELECT w1 AS ws FROM b
               UNION ALL
               SELECT w1 - INTERVAL 30 MINUTES FROM b)
    SELECT ws AS window_start,
           ws + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events
    FROM starts GROUP BY 1, 2
    """,
    survey_ids=("X10",),
)
def x10_stream_sliding(spark, sf_dir):
    """Streaming sliding windows (1h width / 30min slide): each event
    lands in two windows; the oracle derives both window starts per
    event on the shared epoch-aligned 30-minute grid."""
    from .streaming.windows import read_events_stream, run_to_memory, sliding_counts

    stream = sliding_counts(
        read_events_stream(spark, sf_dir), "1 hour", "30 minutes", "2 hours"
    )
    return run_to_memory(stream, spark, mode="complete")


@_register(
    "x10_stream_sessions",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               {_SESSION_BOUNDARY_SQL}
    ),
    tagged AS (
        SELECT user_id, ts,
               SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM ordered
    ),
    sess AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM tagged GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(session_start AS TIMESTAMP) AS session_start,
           CAST(session_end AS TIMESTAMP) AS session_end,
           CAST(n_events AS BIGINT) AS n_events
    FROM sess
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
    """,
    survey_ids=("X10",),
)
def x10_stream_sessions(spark, sf_dir):
    """Streaming session windows (native session_window + watermark,
    append mode). Append emits exactly the sessions the final watermark
    closed, so the oracle IS the batch sessionization filtered to
    sessions ending at or below max(ts) − watermark — upgrading this
    from a rows-only check to full value parity (the equality is also
    asserted engine-side in tests/test_streaming.py). Boundary ties:
    measured on Spark 4.1, session_window MERGES touching windows, so
    an event exactly on the gap boundary stays in-session — the same
    <= semantics as the batch lag-gap form (pinned by
    tests/test_properties.py::test_session_window_boundary_tie_semantics)."""
    from .streaming.windows import read_events_stream, run_to_memory, session_windows

    stream = session_windows(read_events_stream(spark, sf_dir), "30 minutes", "2 hours")
    return run_to_memory(stream, spark, mode="append")


@_register(
    "x10_stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    survey_ids=("X10",),
)
def x10_stream_dedup_keys(spark, sf_dir):
    """Streaming stateful dedup (dropDuplicatesWithinWatermark) on
    (user_id, event_type): the surviving key set is deterministic
    (= DISTINCT keys) even though which physical row survives depends
    on arrival order — so the key projection is the checkable output.
    The stream projects it before the memory sink, so the result reads
    back with no job."""
    from .streaming.windows import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return run_to_memory(deduped.select("user_id", "event_type"), spark, mode="append")


@_register(
    "x10_stream_stateful_profile",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               date_diff('microsecond',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts),
                         ts) AS gap_us
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
           CAST(MAX(ts) AS TIMESTAMP) AS last_ts,
           CAST(COALESCE(MAX(gap_us), 0) AS BIGINT) AS max_gap_us
    FROM g GROUP BY user_id
    """,
    survey_ids=("X10", "X14"),
)
def x10_stream_stateful_profile(spark, sf_dir):
    """Custom arbitrary-state streaming operator
    (applyInPandasWithState): per-user running activity profile whose
    max-inactivity gap spans micro-batch boundaries — state the
    built-in window/session operators cannot carry. On bounded replay
    the final emission per user equals the batch lag-gap computation,
    which is the oracle. See streaming/stateful.py."""
    from pyspark.sql.window import Window as W

    from .streaming.stateful import user_activity_profile
    from .streaming.windows import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts")
    out = run_to_memory(user_activity_profile(ev), spark, mode="update")
    w = W.partitionBy("user_id").orderBy(F.col("version").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "first_ts", "last_ts", "max_gap_us")
    )


@_register(
    "x10_stream_foreach_merge",
    oracle="""
    WITH r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
    ),
    l AS (SELECT * FROM r WHERE rn = 1)
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents_latest,
           CAST(SUM(n_events) AS BIGINT) AS events_covered
    FROM l GROUP BY event_type
    """,
    survey_ids=("X10", "S3"),
)
def x10_stream_foreach_merge(spark, sf_dir):
    """Stream → continuously-MERGEd serving table (X10 × S3, the
    ``foreachBatch`` production pattern): a stateful update-mode
    latest-per-user aggregation feeds per-batch MERGE commits into the
    snapshot table; the returned aggregate is computed from the FINAL
    TABLE STATE read back from the last committed snapshot — so a
    green row proves the whole chain (stream state, per-batch merge,
    atomic snapshot commit) end-to-end, not just the stream math. The
    oracle replays latest-per-user from the raw events. Deterministic
    under any micro-batch split because the stream state is
    order-insensitive (max_by) and monotone per key — batch-wins merge
    then converges to the same final table regardless of batching.
    Reentrant via the s01 pattern (mkdtemp → stream-merge → read →
    literal collect → delete).
    streaming/windows.py::stream_merge_latest."""
    import shutil
    import tempfile

    from .streaming.windows import stream_merge_latest

    root = _scratch_dir("echem_stream_merge_")
    try:
        table = stream_merge_latest(spark, sf_dir, f"{root}/state")
        result = _literal_result(
            spark,
            table.groupBy("event_type").agg(
                F.count("*").alias("n_users"),
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias("cents_latest"),
                F.sum("n_events").cast("bigint").alias("events_covered"),
            ),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return result


@_register(
    "s15_salted_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_li,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    survey_ids=("X5",),
)
def s15_salted_join(spark, sf_dir):
    """Skew-resistant salted join (scale pattern): the fact side's key
    is sub-keyed by a deterministic salt and the other side replicated
    salt-fold, so one hot key spreads over n_salts tasks instead of one
    straggler. Row-for-row equal to the plain join — the oracle is the
    unsalted SQL. See operators/scale.py."""
    from .operators.scale import salted_join

    li = _ld(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    orders = _ld(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, "okey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_li"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


@_register(
    "mm_frame_sample",
    oracle="""
    WITH d AS (SELECT doc_id,
                      CAST(octet_length(encode(text)) // 64 AS INTEGER)
                        AS n_frames
               FROM documents),
    f AS (SELECT doc_id, n_frames,
                 CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_index
          FROM d)
    SELECT doc_id, frame_index,
           CAST(frame_index * 64 AS INTEGER) AS offset,
           n_frames
    FROM f
    """,
    survey_ids=("X14",),
)
def mm_frame_sample(spark, sf_dir):
    """Video-style 1:N frame sampling over opaque binary payloads
    (stub container: fixed 64-byte frames, every 4th sampled) via a
    mapInPandas generator — the multimodal explode surface. See
    operators/multimodal.py::sample_frames."""
    from .operators.multimodal import attach_binary_payload, sample_frames

    docs = _ld(spark, sf_dir, "documents")
    return sample_frames(
        attach_binary_payload(docs).select("doc_id", "payload"),
        frame_size=64,
        stride=4,
    )


@_register(
    "mm_video_frames",
    oracle=f"""
    WITH d AS (SELECT {_MM_DOC_COLS},
                      (doc_id % 4) + 2 AS nf
               FROM documents),
    f AS (SELECT doc_id, hx, L, w, h, nf,
                 unnest(range(0, nf, 2)) AS fi
          FROM d)
    SELECT doc_id,
           CAST(fi AS INTEGER) AS frame_index,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(COALESCE(list_sum(list_transform(range(0, least(32, w * h)),
                j -> ('0x' || substr(hx, ((fi * w * h + j) % L) * 2 + 1, 2))
                       ::BIGINT)), 0) AS BIGINT) AS luma_sum
    FROM f
    """,
    survey_ids=("X14",),
)
def mm_video_frames(spark, sf_dir):
    """Video frame sampling over a REAL container, end-to-end on real
    bytes: each document is encoded as a valid YUV4MPEG2 (Y4M) stream —
    the uncompressed interchange format of ffmpeg/x264 pipelines, plain
    header + FRAME-delimited raw luma planes — and the sampler PARSES
    the actual stream (magic, W/H/C header tags, frame markers, plane
    boundaries), keeps every 2nd frame, and features each kept frame
    from its decoded plane bytes. Upgrades the mm family's video lane
    from the stub container (mm_frame_sample) to a real codec, same as
    BMP/WAV/PNG before it; the oracle re-derives frame geometry, the
    sampled index set and every per-frame luma byte-sum from first
    principles via hex-string byte extraction. Malformed payloads
    contribute zero rows (degrade contract, unit-tested against
    truncated/garbage streams). operators/multimodal.py::parse_y4m,
    sample_y4m_frames."""
    from .operators.multimodal import build_y4m_payload, sample_y4m_frames

    docs = _ld(spark, sf_dir, "documents")
    return sample_y4m_frames(build_y4m_payload(docs), stride=2)


@_register(
    "x10_stream_static_join",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_events
    FROM events e
    JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY n.n_name
    """,
    survey_ids=("X10", "X5"),
)
def x10_stream_static_join(spark, sf_dir):
    """Stream-static join (X10): the event stream is enriched against a
    broadcast batch dimension — stateless per micro-batch, the standard
    streaming-enrichment shape (dim reload per batch at scale is a
    foreachBatch refinement). Replayed bounded; the batch join is the
    oracle."""
    from .streaming.windows import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir).withColumn(
        "nk", F.pmod(F.col("user_id"), F.lit(25))
    )
    nation = _ld(spark, sf_dir, "nation")
    enriched = ev.join(
        F.broadcast(nation), F.col("nk") == F.col("n_nationkey")
    )
    agg = enriched.groupBy("n_name").agg(F.count("*").alias("n_events"))
    return run_to_memory(agg, spark, mode="complete")


@_register(
    "x10_stream_stream_join",
    oracle="""
    SELECT c.event_id AS left_id, p.event_id AS right_id,
           c.user_id, c.ts AS left_ts, p.ts AS right_ts
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    survey_ids=("X10", "X5"),
)
def x10_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (X10): clicks matched to the same
    user's purchases within the following 30 minutes — bidirectional
    join state bounded by watermark + join range. Inner-join emission
    doesn't wait for the watermark, so the bounded replay equals the
    batch interval join, which is the oracle.
    streaming/windows.py::stream_interval_join."""
    from .streaming.windows import (
        read_events_stream,
        run_to_memory,
        stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(stream_interval_join(ev), spark, mode="append")


#: Dialect-portable SQL: the same text runs verbatim in Spark SQL and
#: DuckDB — the third-party SQL entry surface (SURVEY §3 entry point 3).
_PORTABLE_PRICING_SQL = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                AS BIGINT) AS disc_price_c4
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


@_register(
    "sql_surface_pricing",
    oracle=_PORTABLE_PRICING_SQL,
    survey_ids=("Q21", "X7"),
)
def sql_surface_pricing(spark, sf_dir):
    """The SQL entry surface: third parties query the engine through
    ``spark.sql`` over registered views (SURVEY §3 entry point 3 — the
    reference exposes its results table to any SQL client). The query
    text is dialect-portable and doubles verbatim as its own DuckDB
    oracle, so the check proves Spark SQL parsing/execution end-to-end,
    not just the DataFrame API."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PORTABLE_PRICING_SQL)


@_register(
    "s16_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    pur0 AS (
        SELECT user_id, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS p_cents,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    pur AS (SELECT user_id, ts, event_id, p_cents FROM pur0 WHERE rn = 1)
    SELECT c.user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.ts AS asof_p_ts,
           p.p_cents AS asof_p_cents
    FROM clicks c
    ASOF LEFT JOIN pur p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    survey_ids=("X5", "X9"),
)
def s16_asof_join(spark, sf_dir):
    """As-of join (backward): each click matched to the user's latest
    purchase at-or-before it — the time-series join Spark lacks,
    composed as union + ordered window (operators/asof.py). DuckDB's
    native ASOF JOIN is the oracle, so the composition is checked
    against a first-class implementation of the semantics."""
    from pyspark.sql.window import Window as W

    from .operators.asof import asof_backward_join

    ev = _ld(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
    )
    wdup = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("p_id"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("p_cents"),
        )
        .withColumn("p_ts", F.col("ts"))
    )
    joined = asof_backward_join(
        clicks.withColumnRenamed("click_id", "event_id"),
        purchases.withColumnRenamed("p_id", "event_id"),
        key_cols=["user_id"],
        ts_col="ts",
        tie_col="event_id",
        payload_cols=["p_ts", "p_cents"],
    )
    # carry the matched purchase id too: pack it into the payload
    return joined.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("asof_p_ts").alias("asof_p_ts"),
        F.col("asof_p_cents").alias("asof_p_cents"),
    )


@_register(
    "x03_time_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY GROUPING SETS ((1, 2), (1), ())
    """,
    survey_ids=("X3", "X7", "X9"),
)
def x03_time_rollup(spark, sf_dir):
    """Hypertable-style rollup: time-bucketed aggregate rolled up over
    the dimension hierarchy (bucket+type, bucket, grand total) in one
    pass — the batch form of a continuous aggregate. Spark expands the
    grouping sets map-side; one shuffle regardless of set count."""
    ev = _ld(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_trunc("day", "ts").alias("bucket"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .rollup("bucket", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


def _e2e_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE reference dataflow (see
    pipeline_reference_e2e): every stage — hash-order sampling, slab
    expansion, pick-one, charge fan-out, the solver stub's
    printf-rounded arithmetic, and the descriptor math — re-derived
    from the nation table in SQL. Constants are embedded at full
    Python-double precision so the scalar arithmetic is bit-identical;
    the final pzc/capacitance are rounded to 6 decimals on BOTH sides
    because the capacitance regression crosses each engine's own
    regr_slope float path (agreement ~1e-12 relative, far inside the
    rounding — the x14_grouped_fit_pandas convention)."""
    bohr2 = repr(0.529177**2)
    h48 = "(('0x' || substr(md5({s}), 1, 12))::BIGINT)"
    return f"""
    WITH mats AS (
        SELECT 'mp-' || CAST(n_nationkey AS VARCHAR) AS material_id,
               CAST(n_nationkey AS DOUBLE) + 4.0 AS cell00,
               CAST(n_regionkey AS DOUBLE) + 5.0 AS cell11
        FROM nation WHERE n_regionkey < 3
    ),
    sampled AS (
        SELECT * FROM mats
        ORDER BY ({h48.format(s='material_id')} + 27) % 4294967296,
                 material_id
        LIMIT 2
    ),
    slabs AS (
        SELECT material_id, cell00, cell11,
               material_id || '-111-' || CAST(
                   unnest(range(0,
                       {h48.format(s="material_id || '-111'")} % 3 + 1))
                   AS VARCHAR) AS slab_id
        FROM sampled
    ),
    picked AS (
        SELECT * FROM slabs
        ORDER BY ({h48.format(s='slab_id')} + 20) % 4294967296, slab_id
        LIMIT 1
    ),
    runs AS (
        SELECT slab_id, cell00, cell11, c.charge,
               CAST(printf('%.6f', -0.2 + 0.05 * c.charge) AS DOUBLE) AS mu,
               CAST(printf('%.3f', 250 + 10 * c.charge) AS DOUBLE) AS ne
        FROM picked
        CROSS JOIN (VALUES (CAST(-0.1 AS DOUBLE)), (CAST(0.0 AS DOUBLE)),
                           (CAST(0.1 AS DOUBLE))) c(charge)
    ),
    anch AS (
        SELECT slab_id,
               MAX(CASE WHEN charge = 0.0 THEN ne END) AS ne0,
               MAX(CASE WHEN charge = 0.0 THEN mu END) AS mu0
        FROM runs GROUP BY slab_id
    ),
    pts AS (
        SELECT r.slab_id, a.mu0,
               r.mu * (-27.2114) - 4.66 AS pot_v,
               -(r.ne - a.ne0)
                 / (r.cell00 * r.cell11 * {bohr2} * 1e-16)
                 * 1.60217663e-19 * 1e6 / 2.0 AS rho_uc_cm2
        FROM runs r JOIN anch a USING (slab_id)
    )
    SELECT slab_id AS MP_id,
           ROUND(MAX(mu0) * (-27.2114) - 4.66, 6) AS pzc,
           ROUND(REGR_SLOPE(rho_uc_cm2, pot_v), 6) AS capacitance
    FROM pts GROUP BY slab_id
    """


@_register(
    "pipeline_reference_e2e",
    oracle=_e2e_oracle_sql(),
    survey_ids=("Q11", "Q12", "Q13", "Q14", "Q15", "Q16", "S1", "S3", "S4"),
)
def pipeline_reference_e2e(spark, sf_dir):
    """The ENTIRE reference dataflow (SURVEY §3) as one job: filtered
    scan → hash-order sample → slab expansion → pick-one → charge
    fan-out → input-deck serialization → external solver subprocess →
    log parse → descriptors → first-wins upsert → report, with the
    partitioned/upsert/report sinks landing under a fresh temp dir.
    Returns the final (MP_id, pzc, capacitance) table — value-oracled:
    the SQL in :func:`_e2e_oracle_sql` replays the whole dataflow from
    the nation table (my_dag.py:184's result row), so the driver checks
    the composed pipeline's VALUES, not just its row count; the sink
    side-effects stay covered by tests/test_pipeline_e2e.py."""
    from .pipeline import run_reference_pipeline

    n = _ld(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("double")
    rk = F.col("n_regionkey").cast("double")
    materials = n.select(
        F.concat(F.lit("mp-"), F.col("n_nationkey").cast("string")).alias(
            "material_id"
        ),
        F.when(F.col("n_regionkey") < 3, F.lit("V-O"))
        .otherwise(F.lit("Fe-O"))
        .alias("chemsys"),
        F.array(
            F.array(nk + 4.0, F.lit(0.0), F.lit(0.0)),
            F.array(F.lit(0.0), rk + 5.0, F.lit(0.0)),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(20.0)),
        ).alias("lattice"),
        F.array(F.lit("V"), F.lit("O")).alias("ion_names"),
        (nk + 4.0).alias("cell00"),
        (rk + 5.0).alias("cell11"),
    )
    out_dir = _scratch_dir("echem_pipeline_")
    table = run_reference_pipeline(spark, materials, out_dir)
    # 6-decimal rounding on BOTH sides: capacitance crosses each
    # engine's own regr_slope float path (see _e2e_oracle_sql).
    return table.select(
        "MP_id",
        F.round("pzc", 6).alias("pzc"),
        F.round("capacitance", 6).alias("capacitance"),
    )


@_register(
    "mm_audio_chunks",
    oracle="""
    WITH d AS (SELECT doc_id,
                      CAST(octet_length(encode(text)) // 2 AS INTEGER)
                        AS n_samples
               FROM documents),
    c AS (SELECT doc_id, n_samples,
                 CAST(unnest(range(0, n_samples, 512)) AS INTEGER)
                   AS start_sample
          FROM d)
    SELECT doc_id,
           CAST(start_sample // 512 AS INTEGER) AS chunk_index,
           start_sample,
           CAST(LEAST(1024, n_samples - start_sample) AS INTEGER)
             AS n_chunk_samples,
           n_samples,
           CAST(16000 AS INTEGER) AS sample_rate
    FROM c
    """,
    survey_ids=("X14",),
)
def mm_audio_chunks(spark, sf_dir):
    """Audio analysis-window chunking over REAL WAV FILES scanned
    through ``spark.read.format("binaryFile")`` (the audio twin of the
    mm_decode_features image path): each document is written once as a
    valid 16-bit mono PCM RIFF file, the corpus is scanned back from
    disk, and chunk_audio parses the actual fmt/data chunks (the
    output's sample count and rate come from the header bytes, which
    the oracle re-derives: 2 bytes per sample, 16 kHz). 1024-sample
    windows at 512 hop via a 1:N mapInPandas generator — the third
    modality next to image decode and video frame sampling.
    operators/multimodal.py::chunk_audio."""
    from .operators.multimodal import (
        chunk_audio,
        materialize_wav_files,
        read_payload_files,
    )

    docs = _ld(spark, sf_dir, "documents")
    wav_dir = materialize_wav_files(spark, sf_dir, docs)
    return chunk_audio(
        read_payload_files(spark, wav_dir, "wav"), window=1024, hop=512
    )


#: Correlated scalar subquery, dialect-portable (runs verbatim in both
#: engines): parts priced above their brand's average price.
_CORRELATED_SQL = """
    SELECT p_partkey, p_brand,
           CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents
    FROM part p
    WHERE p_retailprice > (SELECT AVG(p2.p_retailprice)
                           FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    """


@_register(
    "sql_correlated_subquery",
    oracle=_CORRELATED_SQL,
    survey_ids=("X5",),
)
def sql_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery through spark.sql: Catalyst's
    DecorrelateInnerQuery rewrites the per-row subquery into an
    aggregate + join (asserted in tests/test_plans.py — no per-row
    re-execution survives in the plan). The reference has no subquery
    capability at all; this is optimizer uplift for free (SURVEY §4).
    Same text is the DuckDB oracle. Note the float AVG threshold is
    only ever compared (>), never emitted, so cross-engine float
    summation differences cannot change the row set unless a price
    sits within one ulp of the mean — impossible for 2-decimal prices
    and double sums at this cardinality."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


#: Dialect-portable recursive CTE (runs verbatim in both engines):
#: resolve every part's forest root and depth (parent = partkey DIV 10
#: as data, expressed as FLOOR(cur / 10) because `/` is float division
#: in BOTH dialects and the quotient stays exact below 2^53).
_RECURSIVE_SQL = """
    WITH RECURSIVE walk AS (
        SELECT p_partkey AS node, p_partkey AS cur,
               CAST(0 AS BIGINT) AS depth
        FROM part
        UNION ALL
        SELECT node, CAST(FLOOR(cur / 10) AS BIGINT) AS cur,
               depth + 1 AS depth
        FROM walk WHERE cur >= 10
    )
    SELECT node, cur AS root, depth FROM walk WHERE cur < 10
    """


@_register(
    "sql_recursive_hierarchy",
    oracle=_RECURSIVE_SQL,
    survey_ids=("X5",),
)
def sql_recursive_hierarchy(spark, sf_dir):
    """Native ``WITH RECURSIVE`` through spark.sql — Spark 4's
    recursive-CTE support (UnionLoop execution), same text as the
    DuckDB oracle, so the user-facing recursion surface is proven
    verbatim-portable. This is the SQL-surface twin of
    ``x05_hierarchy_flatten``: identical fixpoint, but the engine
    drives the iteration (one UNION ALL step per parent hop, O(depth)
    rounds) where the DataFrame twin pointer-doubles in O(log depth)
    rounds — at 100 TB prefer the twin for deep hierarchies and the
    native CTE for portability/readability (depth here is
    log10(partkey) ≤ 7, far under Spark's 100-level recursion guard).
    The reference cannot express recursion at all (SURVEY §4 uplift)."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


@_register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
      AND o_orderdate <  DATE '1996-01-01'
    GROUP BY o_orderpriority
    HAVING COUNT(*) >= 10
    """,
    survey_ids=("X3", "Q21"),
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4's ``|>`` operator chaining — the
    dataflow-ordered SQL dialect): scan → filter → grouped aggregate →
    post-aggregate filter written top-to-bottom the way the engine
    executes it. Catalyst lowers pipes to the identical logical plan
    as the nested form, so the optimizer surface (pushdown, partial
    aggregation) is unchanged — asserted by the oracle being the
    classic GROUP BY/HAVING spelling of the same query. A reference
    user gets dbt-style readable pipelines with zero plan cost."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        FROM orders
        |> WHERE o_orderdate >= DATE '1995-01-01'
           AND o_orderdate < DATE '1996-01-01'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                          AS BIGINT) AS sum_cents
           GROUP BY o_orderpriority
        |> WHERE n_orders >= 10
        |> SELECT o_orderpriority, n_orders, sum_cents
    """)


#: Dialect-portable LATERAL join (verbatim in both engines): per
#: nation, its top-3 customers by account balance. Comma-join LATERAL
#: syntax parses identically; the deterministic ORDER BY (balance,
#: key) makes the LIMIT row set engine-exact, and cents-casting the
#: emitted balance keeps the value hash integer-clean.
_LATERAL_SQL = """
    SELECT n.n_name, c.c_custkey,
           CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS bal_cents
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer
             WHERE c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
    """


@_register(
    "sql_lateral_topk",
    oracle=_LATERAL_SQL,
    survey_ids=("X5", "X1"),
)
def sql_lateral_topk(spark, sf_dir):
    """LATERAL correlated subquery with per-row LIMIT through
    spark.sql (SQL-surface parity for the dependent-join idiom every
    warehouse user writes). Catalyst plans the dependent subquery as a
    LateralJoin; semantics match the window-rank form exactly, and the
    DataFrame twin for the 100 TB path remains ``x01_group_topk``
    (one shuffle + per-partition rank, no dependent re-execution).
    Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


def _supplier_cents(spark, sf_dir):
    """The table-sink fixture: supplier as (s_suppkey, s_nationkey,
    bal_cents)."""
    return _ld(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.round(F.col("s_acctbal") * 100, 0).cast("bigint").alias("bal_cents"),
    )


#: Per-nation survivors of a supplier delete — the oracle side of
#: :func:`_kept_balance`; callers append the surviving-row predicate.
_KEPT_BALANCE_SQL = """SELECT s_nationkey, COUNT(*) AS n_kept,
           CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM supplier"""


def _kept_balance(back):
    """Per-nation row count and balance of a read-back supplier table."""
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_kept"),
        F.sum("bal_cents").alias("bal_cents"),
    )


@_register(
    "s01_sink_roundtrip",
    oracle="""
    SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents,
           CAST(2 AS BIGINT) AS report_lines,
           COUNT(*) AS reported_rows
    FROM supplier GROUP BY 1
    """,
    survey_ids=("S1", "S4"),
)
def s01_sink_roundtrip(spark, sf_dir):
    """Value-checked sink round-trip for the partitioned file sink (S1,
    my_dag.py:40-44,93-99) and the append-only report sink (S4,
    my_dag.py:240-243).

    The query WRITES, then READS ITS OWN SINKS BACK — nothing in the
    returned frame comes from the input directly, so a green oracle row
    proves both sinks end-to-end:

    - S1: supplier is written ``partitionBy(s_nationkey)`` to a fresh
      temp dir and re-read; ``n_rows``/``bal_cents`` aggregate the
      read-back frame (partition values round-trip through directory
      names, hence the INTEGER cast in the oracle).
    - S4: one report line per partition key is appended TWICE (two
      append-mode text writes, the reference's repeated-run shape);
      the report is re-read and parsed with regexp_extract —
      ``report_lines`` counts the appends per key (= 2) and
      ``reported_rows`` recovers the row count embedded in the line.

    The full-pipeline composition of the same sinks stays registered as
    ``pipeline_reference_e2e`` (rows-only, behind the driver window).

    REENTRANT AND STATE-FREE by construction (the round-3 driver row
    hash-failed because a fixed shared dir was rmtree'd by a second
    invocation while the first invocation's lazy frame could still
    re-list it; round 4's eager ``localCheckpoint`` survived every
    local reproduction but stayed red in the driver, leaving checkpoint
    *block* lifetime under the ContextCleaner as the one remaining
    runtime dependency): every call writes to its own ``mkdtemp`` dir,
    computes the 25-row result, and returns it as a LITERAL frame
    (``collect`` + ``createDataFrame``) whose plan holds the values
    themselves — after which the temp dir is deleted immediately. No
    shared state, no runtime blocks, no lineage: no session event of
    any kind can change what a later action on the returned frame
    observes.

    ROUND-6 ROOT CAUSE (why r3-r5 stayed red while every local
    reproduction was green): the Spark side was never wrong — an r5
    dump of its sorted tuples matched the DuckDB oracle
    value-for-value. The oracle's ``SUM(CAST(... AS BIGINT))`` returns
    DuckDB **HUGEINT** (int128), which a pandas/arrow collection path
    widens to float64, so a value hash saw ``376931.0`` against
    Spark's ``376931`` — hash-red with identical numbers. The local mirror
    uses ``fetchall()`` (HUGEINT → Python int), which masked it. Fix:
    outer ``CAST(SUM(...) AS BIGINT)`` in the oracle; the whole
    registry is audited for the same class by
    ``tests/test_oracle_dtypes.py`` (arrow-path dtype parity for all
    oracles).
    """
    import shutil
    import tempfile
    from pathlib import Path

    from .sources import sinks

    sup = _supplier_cents(spark, sf_dir)
    out = Path(
        _scratch_dir(f"echem_sink_roundtrip_{Path(sf_dir).name}_")
    )
    table_path = f"{out}/suppliers"
    report_path = f"{out}/report"
    sinks.write_partitioned(sup, table_path, ["s_nationkey"])

    back = spark.read.parquet(table_path)
    per_key = back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_rows"), F.sum("bal_cents").alias("bal_cents")
    )

    line = F.format_string("nation=%s rows=%s", "s_nationkey", "n_rows")
    report_lines = per_key.select(line.alias("value"))
    for _ in range(2):  # the reference appends one line per run
        report_lines.coalesce(1).write.mode("append").text(report_path)

    parsed = spark.read.text(report_path).select(
        F.regexp_extract("value", r"nation=(\d+) rows=(\d+)", 1)
        .cast("int")
        .alias("s_nationkey"),
        F.regexp_extract("value", r"nation=(\d+) rows=(\d+)", 2)
        .cast("bigint")
        .alias("rows_in_line"),
    )
    rep = parsed.groupBy("s_nationkey").agg(
        F.count("*").alias("report_lines"),
        F.max("rows_in_line").alias("reported_rows"),
    )
    result = per_key.join(rep, "s_nationkey").select(
        "s_nationkey", "n_rows", "bal_cents", "report_lines", "reported_rows"
    )
    # Materialize NOW into a LITERAL frame (one job over the 25-key
    # result, values held in the plan itself), then drop the sink
    # files: nothing the session does later can invalidate the rows.
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s01_schema_evolution",
    oracle="""
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
    FROM documents
    """,
    survey_ids=("S1", "Q3"),
)
def s01_schema_evolution(spark, sf_dir):
    """Schema-evolution read (S1's long-lived-table reality): half the
    corpus is written under the OLD schema (no ``lang`` column), half
    under the NEW one, into the same table directory — exactly what a
    100 TB table looks like after a column is added mid-life. The
    ``mergeSchema`` read must unify them: old-vintage rows surface
    NULL for the added column (the oracle's CASE), new-vintage rows
    keep their values, and nothing is dropped or crashed on. Spark
    merges parquet footers at planning time, so the unified schema
    costs a footer pass, not a data rewrite — the property that makes
    additive evolution free on immutable stores. Reentrant via the
    s01_sink_roundtrip pattern (mkdtemp → write → read → eager
    literal collect → delete)."""
    import shutil
    import tempfile

    docs = _ld(spark, sf_dir, "documents")
    out = _scratch_dir("echem_schema_evo_")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "n_chars"
    ).write.parquet(f"{out}/tbl/v1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "n_chars", "lang"
    ).write.parquet(f"{out}/tbl/v2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(f"{out}/tbl")
        .select("doc_id", "n_chars", "lang")
    )
    result = _literal_result(spark, merged)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s01_corrupt_tolerant_read",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM supplier WHERE s_suppkey % 3 <> 0 GROUP BY 1
    """,
    survey_ids=("S1", "S2"),
)
def s01_corrupt_tolerant_read(spark, sf_dir):
    """Corrupt-file tolerance on the table read path (S1's operational
    reality at 100 TB: with millions of files, a truncated upload or a
    bit-rotted object WILL appear, and one bad file must not kill a
    thousand-executor job). The fixture writes supplier as three
    deterministic parquet files (suppkey mod 3), TRUNCATES one to 100
    bytes — an invalid footer, the classic partial-write shape — and
    reads the directory back with ``ignoreCorruptFiles``: the corrupt
    file is skipped (logged, not fatal) and exactly the other two
    files' rows survive, which is what the oracle's ``% 3 <> 0``
    expresses. This is the read-side complement of the quarantine
    sources (s02_csv_quarantine / x08_json_quarantine: bad ROWS) — bad
    FILES degrade to a deterministic subset instead of an aborted job.
    Reentrant: per-invocation mkdtemp, literal result, dir deleted."""
    import shutil
    import tempfile
    from pathlib import Path

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", _cents(F.col("s_acctbal")).alias("bal_cents")
    )
    root = Path(_scratch_dir("echem_corrupt_read_"))
    try:
        tbl = root / "tbl"
        tbl.mkdir()
        for r in range(3):
            part_dir = root / f"part{r}"
            sup.filter(F.col("s_suppkey") % 3 == r).coalesce(1).write.parquet(
                str(part_dir)
            )
            (src,) = part_dir.glob("part-*.parquet")
            shutil.move(str(src), str(tbl / f"f{r}.parquet"))
        # truncate the r=0 file: an invalid parquet footer, as a torn
        # upload leaves behind
        with open(tbl / "f0.parquet", "r+b") as fh:
            fh.truncate(100)
        # explicit schema, as a catalog/managed table supplies: schema
        # inference itself footer-reads data files and can abort on the
        # corrupt one before ignoreCorruptFiles applies to the scan
        back = (
            spark.read.schema(
                "s_suppkey bigint, s_nationkey bigint, bal_cents bigint"
            )
            .option("ignoreCorruptFiles", "true")
            .parquet(str(tbl))
        )
        result = back.groupBy("s_nationkey").agg(
            F.count("*").alias("n_rows"), F.sum("bal_cents").alias("bal_cents")
        )
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "s03_merge_upsert",
    oracle="""
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 3 = 0
                THEN CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) + 1000
                ELSE CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)
           END AS bal_cents
    FROM supplier
    WHERE s_suppkey % 2 = 0 OR s_suppkey % 3 = 0
    """,
    survey_ids=("S3",),
)
def s03_merge_upsert(spark, sf_dir):
    """Managed-table MERGE round-trip (S3, the true-upsert shape of
    my_dag.py:196-205): batch 1 (even suppkeys) creates the table,
    batch 2 (suppkeys % 3 = 0, balances bumped +1000 cents) MERGEs in —
    matched keys must come back UPDATED and unmatched INSERTED, which
    is exactly what the oracle's CASE expresses. Everything in the
    returned frame is read back from the committed snapshot, so a
    green row proves the copy-on-write write path, the _SUCCESS commit
    gating, and the update-vs-insert split end-to-end.
    Reentrant like s01_sink_roundtrip: per-invocation mkdtemp, result
    collected into a literal frame, table root deleted before returning.
    sources/sinks.py::merge_parquet."""
    import shutil
    import tempfile

    from .sources import sinks

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100, 0).cast("bigint").alias("bal_cents"),
    )
    batch1 = sup.filter(F.col("s_suppkey") % 2 == 0)
    batch2 = sup.filter(F.col("s_suppkey") % 3 == 0).withColumn(
        "bal_cents", F.col("bal_cents") + 1000
    )
    root = _scratch_dir("echem_merge_upsert_")
    try:
        table_root = f"{root}/tbl"
        sinks.merge_parquet(batch1, table_root, ["s_suppkey"], "bal_cents")
        result = sinks.merge_parquet(
            batch2, table_root, ["s_suppkey"], "bal_cents"
        ).select("s_suppkey", "bal_cents")
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "s03_merge_delete",
    oracle=f"""
    {_KEPT_BALANCE_SQL} WHERE s_suppkey % 7 <> 0 GROUP BY 1
    """,
    survey_ids=("S3", "S1"),
)
def s03_merge_delete(spark, sf_dir):
    """Managed-table DELETE round-trip (S3's right-to-be-forgotten /
    retention-purge path, ``MERGE WHEN MATCHED THEN DELETE``): the
    full supplier table commits as snapshot 1, every 7th suppkey is
    purged via :func:`sinks.delete_keys_parquet` (copy-on-write
    anti-join, _SUCCESS-gated snapshot 2, idempotent for absent keys —
    the delete set deliberately includes keys the table never had),
    and the returned per-nation counts/balances aggregate the READ-
    BACK surviving snapshot — a green row proves the purge removed
    exactly the matched keys and nothing else. Reentrant like
    s01_sink_roundtrip: per-invocation mkdtemp, literal result, table
    root deleted before returning.
    sources/sinks.py::delete_keys_parquet."""
    import shutil
    import tempfile

    from .sources import sinks

    sup = _supplier_cents(spark, sf_dir)
    root = _scratch_dir("echem_merge_delete_")
    try:
        table_root = f"{root}/tbl"
        sinks.merge_parquet(sup, table_root, ["s_suppkey"], "bal_cents")
        doomed = sup.filter(F.col("s_suppkey") % 7 == 0).unionByName(
            spark.createDataFrame([(0,)], "s_suppkey bigint"),
            allowMissingColumns=True,
        )
        back = sinks.delete_keys_parquet(doomed, table_root, ["s_suppkey"])
        result = _kept_balance(back)
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: TPC-H-Q5-shaped 6-table join, dialect-portable (its own oracle):
#: revenue per nation for one region-year, suppliers local to their
#: customers. The join-reordering / broadcast-selection showcase.
_REVENUE_BY_NATION_SQL = """
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
             AS BIGINT) AS revenue_c4,
           COUNT(*) AS n_lineitems
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1995-01-01'
      AND o.o_orderdate <  DATE '1996-01-01'
    GROUP BY n.n_name
    """


@_register(
    "sql_surface_revenue_by_nation",
    oracle=_REVENUE_BY_NATION_SQL,
    survey_ids=("Q17", "Q21", "X5"),
)
def sql_surface_revenue_by_nation(spark, sf_dir):
    """The classic local-supplier-revenue analytical join (TPC-H Q5
    shape) through ``spark.sql`` over registered views: six tables,
    one selective dimension filter (region), a date-range predicate
    pushed to the orders scan, and a non-key equality
    (supplier-nation = customer-nation) layered on the equi-joins.
    This is the query class Catalyst's join reordering + broadcast
    selection exists for: region/nation/supplier broadcast, the
    fact-side joins shuffle on their keys, aggregation is partial
    map-side. Monetary math stays in integer cents x percent so the
    grouped sums are bit-identical in any engine. Same text is the
    DuckDB oracle (HUGEINT sum folded back to BIGINT on both sides)."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REVENUE_BY_NATION_SQL)


_SHIPPING_PRIORITY_SQL = """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
             AS BIGINT) AS revenue_c4,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01'
      AND l.l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_c4 DESC, o.o_orderkey
    LIMIT 10
    """


@_register(
    "sql_surface_shipping_priority",
    oracle=_SHIPPING_PRIORITY_SQL,
    survey_ids=("Q17", "Q21", "X1"),
)
def sql_surface_shipping_priority(spark, sf_dir):
    """Unshipped-high-value-orders analytics (TPC-H Q3 shape) through
    ``spark.sql``: a selective dimension filter (market segment), two
    date predicates pushed into DIFFERENT fact scans (order placed
    before / line shipped after the cutoff), a two-hop key join, and a
    grouped top-k. The plan Catalyst should produce — and the one
    tests/test_plans.py pins for the surface family — broadcasts the
    filtered customer side, shuffles the facts on their join keys, and
    resolves the top-10 with a TakeOrderedAndProject (no global sort
    materialization: each partition keeps 10 candidates, the driver
    merges — the LIMIT-pushdown shape that makes top-k safe at 100 TB).
    Revenue ties are broken by the unique order key so the selected
    row set is engine-independent. Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHIPPING_PRIORITY_SQL)


_LARGE_ORDERS_SQL = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY total_cents DESC, o.o_orderkey
    LIMIT 20
    """


@_register(
    "sql_surface_large_orders",
    oracle=_LARGE_ORDERS_SQL,
    survey_ids=("Q17", "Q21", "X5"),
)
def sql_surface_large_orders(spark, sf_dir):
    """Large-volume-customer report (TPC-H Q18 shape): an aggregated
    IN-subquery over the SAME fact table the outer query joins.
    Catalyst rewrites the IN into a left-semi join against the grouped
    subquery (pinned in tests/test_plans.py), and the final top-20 is
    TakeOrderedAndProject with the unique order key as tiebreak. What
    Catalyst does NOT do — measured, not assumed: the three lineitem
    consumers (outer join, HAVING aggregation, outer SUM) plan three
    scans with three hash exchanges and zero ReusedExchange, because
    each prunes different columns. The 100 TB authoring fix is to
    aggregate once and JOIN the totals (one scan, one exchange,
    threshold filter pushed onto the tiny aggregated side) — this row
    deliberately keeps the reference IN-subquery form because the
    decorrelation rewrite is the surface under test. The quantity
    threshold (sum > 250, ~1% of orders at every tested SF) keeps the
    semi-join side broadcastable at cluster scale. Same text is the
    DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LARGE_ORDERS_SQL)


@_register(
    "s02_multi_format_union",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM supplier GROUP BY 1
    """,
    survey_ids=("S2", "X2"),
)
def s02_multi_format_union(spark, sf_dir):
    """Federated multi-format read (S2's migration reality: a dataset's
    history often spans formats — an old CSV drop, a JSONL export, the
    current parquet): supplier is written as three disjoint thirds in
    THREE formats, read back through three format-specific readers with
    ONE explicit schema, and unioned by name — the aggregate over the
    union must equal the single-table oracle exactly, proving the
    readers agree on types, NULLs, and values. unionByName keeps the
    merge correct under column-order drift between readers; at scale
    each reader scans only its own files and the union is a zero-cost
    plan node (no shuffle). Reentrant: per-invocation mkdtemp, literal
    result, dir deleted."""
    import shutil
    import tempfile

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", _cents(F.col("s_acctbal")).alias("bal_cents")
    )
    schema = "s_suppkey bigint, s_nationkey bigint, bal_cents bigint"
    root = _scratch_dir("echem_multifmt_")
    try:
        sup.filter(F.col("s_suppkey") % 3 == 0).write.parquet(f"{root}/p")
        sup.filter(F.col("s_suppkey") % 3 == 1).write.option(
            "header", "true"
        ).csv(f"{root}/c")
        sup.filter(F.col("s_suppkey") % 3 == 2).write.json(f"{root}/j")
        parts = [
            spark.read.schema(schema).parquet(f"{root}/p"),
            spark.read.schema(schema).option("header", "true").csv(f"{root}/c"),
            spark.read.schema(schema).json(f"{root}/j"),
        ]
        allsup = parts[0]
        for p in parts[1:]:
            allsup = allsup.unionByName(p)
        result = allsup.groupBy("s_nationkey").agg(
            F.count("*").alias("n_rows"), F.sum("bal_cents").alias("bal_cents")
        )
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "s02_csv_roundtrip",
    oracle="""
    WITH src AS (
        SELECT o_orderstatus,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
               o_orderdate,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio,
               o_orderpriority || ',"' || o_orderstatus || '"' AS tricky
        FROM orders
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN prio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_prio,
           MIN(o_orderdate) AS min_date,
           MAX(o_orderdate) AS max_date,
           CAST(SUM(LENGTH(tricky)) AS BIGINT) AS tricky_chars
    FROM src GROUP BY o_orderstatus
    """,
    survey_ids=("S2", "S1"),
)
def s02_csv_roundtrip(spark, sf_dir):
    """Typed CSV round-trip source (S2's text-file family beyond raw
    lines): the orders table — keys, money, timestamps, NULLs, and a
    deliberately hostile string column embedding the delimiter AND the
    quote character — is written as headered CSV and read back with an
    EXPLICIT schema (schema inference is a second full scan and a
    type-stability hazard at 100 TB; production readers declare).
    The returned aggregate is computed from the READ-BACK frame only,
    while the oracle replays the same derivation straight from the
    parquet view — so any lossiness in the text round-trip (quote
    escaping, timestamp formatting, NULL vs empty-string encoding)
    breaks value parity. NULLs survive because write and read agree on
    a non-empty nullValue sentinel; Spark's default round-trips
    empty-string and NULL identically, which silently corrupts
    nullable string columns — the kind of source-contract detail this
    row exists to pin. Reentrant via the s01 pattern (mkdtemp → write →
    read → eager literal collect → delete)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    orders = _ld(spark, sf_dir, "orders")
    src = orders.select(
        "o_orderstatus",
        _cents(F.col("o_totalprice")).alias("total_cents"),
        "o_orderdate",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
        F.concat(
            F.col("o_orderpriority"), F.lit(',"'), F.col("o_orderstatus"), F.lit('"')
        ).alias("tricky"),
    )
    out = _scratch_dir("echem_csv_roundtrip_")
    csv_opts = {"header": "true", "nullValue": "\\N"}
    src.write.mode("overwrite").options(**csv_opts).csv(out)

    schema = StructType(
        [
            StructField("o_orderstatus", StringType()),
            StructField("total_cents", LongType()),
            StructField("o_orderdate", TimestampType()),
            StructField("prio", StringType()),
            StructField("tricky", StringType()),
        ]
    )
    back = spark.read.options(**csv_opts).schema(schema).csv(out)
    result = back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("total_cents").alias("sum_cents"),
        F.sum(F.when(F.col("prio").isNull(), 1).otherwise(0)).alias("n_null_prio"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.sum(F.length("tricky")).alias("tricky_chars"),
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s02_jsonl_roundtrip",
    oracle="""
    WITH per_nation AS (
        SELECT c_nationkey,
               COUNT(*) AS n_members,
               CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
                   AS bal_cents
        FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, n_members, bal_cents,
           n_members AS exploded_members
    FROM per_nation
    """,
    survey_ids=("S2", "X8"),
)
def s02_jsonl_roundtrip(spark, sf_dir):
    """Nested JSON-lines round-trip source (S2 + the X8 JSON type
    system): customers are rolled up into one record per nation with
    an ARRAY OF STRUCTS member list, written as JSON lines, and read
    back with an explicit nested schema — the document-shaped
    interchange format every ingestion pipeline meets. The read-back
    frame is then both aggregated at the top level AND re-exploded to
    count members, so struct-field names, array order-independence,
    and bigint fidelity through JSON text are all value-checked
    against the oracle's replay from the parquet view. Explicit
    schema, not inference: at 100 TB sampling-based inference is a
    correctness hazard (a rare field missing from the sample silently
    drops the column). Reentrant via the s01 pattern."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cust = _ld(spark, sf_dir, "customer")
    rolled = cust.groupBy("c_nationkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("c_custkey").alias("custkey"),
                    _cents(F.col("c_acctbal")).alias("bal_cents"),
                )
            )
        ).alias("members")
    )
    out = _scratch_dir("echem_jsonl_roundtrip_")
    rolled.write.mode("overwrite").json(out)

    schema = StructType(
        [
            StructField("c_nationkey", IntegerType()),
            StructField(
                "members",
                ArrayType(
                    StructType(
                        [
                            StructField("custkey", LongType()),
                            StructField("bal_cents", LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(out)
    top = back.select(
        "c_nationkey",
        F.size("members").alias("n_members"),
        F.aggregate(
            "members", F.lit(0).cast("bigint"), lambda acc, m: acc + m["bal_cents"]
        ).alias("bal_cents"),
    )
    exploded = (
        back.select("c_nationkey", F.explode("members").alias("m"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("exploded_members"))
    )
    result = top.join(exploded, "c_nationkey").select(
        "c_nationkey", "n_members", "bal_cents", "exploded_members"
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s17_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    survey_ids=("Q17", "S1"),
)
def s17_bucketed_join(spark, sf_dir):
    """Co-located (bucketed) fact-fact join through the catalog: both
    tables are persisted ``bucketBy(orderkey)`` into per-invocation
    external tables, then joined and aggregated WITH BROADCAST
    DISABLED — so the join must run scan-to-scan on the bucketed
    layout, zero exchanges (the shape tests/test_scale.py pins; at
    100 TB this is THE pattern for repeated fact-fact joins: pay the
    shuffle once at write time, never again per query). The aggregate
    is computed from the catalog read-back only; the oracle replays it
    from the raw views, so bucket-pruned scans returning short rows
    would break parity. Reentrant: unique table names + mkdtemp paths,
    tables dropped and dirs deleted after eager materialization; the
    broadcast threshold is restored in a finally."""
    import shutil
    import tempfile
    import uuid

    from .operators import scale

    tag = uuid.uuid4().hex[:8]
    li_t, ord_t = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    out = _scratch_dir("echem_bucketed_join_")
    li = _ld(spark, sf_dir, "lineitem").select(
        "l_orderkey", _cents(F.col("l_extendedprice")).alias("price_cents")
    )
    orders = _ld(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        scale.write_bucketed(li, li_t, "l_orderkey", 8, path=f"{out}/li")
        scale.write_bucketed(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            ord_t,
            "l_orderkey",
            8,
            path=f"{out}/orders",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = scale.bucketed_join(spark, li_t, ord_t, "l_orderkey")
        result = joined.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_lines"),
            F.sum("price_cents").alias("price_cents"),
        )
        result = _literal_result(spark, result)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {li_t}")
        spark.sql(f"DROP TABLE IF EXISTS {ord_t}")
        shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s01_sorted_layout_scan",
    oracle="""
    SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS ship_day,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY 1
    """,
    survey_ids=("Q1", "S1"),
)
def s01_sorted_layout_scan(spark, sf_dir):
    """Clustered-layout write + pruned read (the S1 sink feeding the
    Q1 pushed-predicate scan): lineitem is laid out with
    ``repartitionByRange(l_shipdate)`` + ``sortWithinPartitions`` —
    every output file covers a NARROW, non-overlapping shipdate band —
    then re-read with a one-month filter. Because parquet keeps
    min/max stats per row group, the range-clustered layout lets the
    pushed predicate (PushedFilters in the plan) skip ~all files
    outside the month: the I/O for a time-windowed query scales with
    the window, not the table — the property that makes a 100 TB
    time-series table queryable. The month aggregate is computed from
    the read-back clustered copy; the oracle replays it from the raw
    view. Reentrant via the s01 pattern."""
    import shutil
    import tempfile

    from .sources.sinks import write_clustered

    li = _ld(spark, sf_dir, "lineitem").select(
        "l_shipdate", F.col("l_quantity").cast("bigint").alias("qty")
    )
    out = _scratch_dir("echem_sorted_layout_")
    write_clustered(li, out, "l_shipdate", n_ranges=8)
    back = spark.read.parquet(out).filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    result = (
        back.groupBy(
            F.date_trunc("day", "l_shipdate").cast("date").alias("ship_day")
        )
        .agg(F.count("*").alias("n_lines"), F.sum("qty").alias("sum_qty"))
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s02_custom_datasource",
    oracle="""
    SELECT n_name AS run_id,
           CAST((n_nationkey % 3) + 2 AS BIGINT) AS n_fillings,
           CAST(printf('%.6f',
                -0.2 + 0.01 * (n_nationkey + (n_nationkey % 3) + 1))
             AS DOUBLE) AS mu,
           CAST(printf('%.3f',
                CAST(250 + n_nationkey + 2 * ((n_nationkey % 3) + 1) AS DOUBLE))
             AS DOUBLE) AS ne
    FROM nation
    WHERE n_name < 'NATION_2'
    """,
    survey_ids=("S2", "Q5", "Q6"),
)
def s02_custom_datasource(spark, sf_dir):
    """The solver-output corpus through a REAL custom connector — the
    Spark 4 Python Data Source API (sources/solver_out.py) instead of
    ``spark.read.text`` + path parsing: one InputPartition per `.out`
    file, rows typed ``(run_id, line_no, value)`` at the source, and
    ``run_id < 'NATION_2'`` consumed by the connector's ``pushFilters`` so
    pruned files are NEVER OPENED (tests/test_datasource.py asserts
    the listing shrinks) — scan I/O proportional to the predicate,
    not the corpus, on a plain directory of text files. Downstream is
    the reference's parse (my_dag.py:152-158) as the pipeline spells
    it, operators/echem.py::parse_fillings_lines: keep FillingsUpdate
    lines, extract mu/nElectrons, last match per file wins (max_by
    over line_no). The oracle replays the fixture
    generator's printf arithmetic from the nation view — a green row
    proves generator → files → connector → parse end-to-end."""
    from .sources.solver_out import (
        build_solver_out_fixture,
        make_solver_out_datasource,
    )

    path = build_solver_out_fixture(spark, sf_dir)
    spark.dataSource.register(make_solver_out_datasource())
    # Python-source filter pushdown is conf-gated (off by default in
    # 4.1); enable it for the planning/execution of THIS query and
    # restore — the literal collect below pins execution inside the
    # window, so the returned frame never re-plans the scan.
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    lines = (
        spark.read.format("solverout")
        .option("path", path)
        .load()
        .filter(F.col("run_id") < "NATION_2")
    )
    result = echem.parse_fillings_lines(lines).select(
        "run_id", "n_fillings", "mu", "ne"
    )
    try:
        result = _literal_result(spark, result)
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)
    return result


@_register(
    "x08_variant_shred",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(SUM(user_id) AS BIGINT) AS sum_second_id,
           COUNT(*) AS n_type_mismatch_null
    FROM events
    GROUP BY event_type
    """,
    survey_ids=("X8",),
)
def x08_variant_shred(spark, sf_dir):
    """Semi-structured analytics through the Spark 4 VARIANT type (the
    X8 family's open-schema end state): each event is re-serialized as
    a nested JSON document, parsed ONCE into a VARIANT column
    (``parse_json`` — binary-encoded, fields shredded on access
    without a declared schema), then consumed with typed path
    extraction: ``variant_get('$.who.cents', bigint)`` for a nested
    field, ``'$.ids[1]'`` for an array element, and
    ``try_variant_get('$.who', int)`` proving the TRY form yields NULL
    (counted, = every row) instead of throwing when an object can't
    cast to a scalar. Every output value flows THROUGH the variant
    encode/decode; the oracle replays from the raw relational columns,
    so a green row pins the whole VARIANT path byte-faithful. At
    100 TB, VARIANT is the schema-drift answer: ingestion stays
    one-pass with no schema negotiation, and Catalyst prunes shredded
    field access instead of re-parsing JSON text per predicate."""
    ev = _ld(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                F.col("user_id").alias("u"),
                _cents(F.col("value")).alias("cents"),
            ).alias("who"),
            F.array(F.col("event_id"), F.col("user_id")).alias("ids"),
        )
    )
    v = ev.select(
        "event_type", F.parse_json(doc).alias("v")
    )
    shredded = v.select(
        "event_type",
        F.variant_get("v", "$.who.cents", "bigint").alias("cents"),
        F.variant_get("v", "$.ids[1]", "bigint").alias("second_id"),
        F.try_variant_get("v", "$.who", "int").alias("who_as_int"),
    )
    return shredded.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.sum("second_id").alias("sum_second_id"),
        F.sum(F.when(F.col("who_as_int").isNull(), 1).otherwise(0)).alias(
            "n_type_mismatch_null"
        ),
    )


@_register(
    "s04_custom_sink",
    oracle="""
    WITH per_key AS (
        SELECT s_nationkey, COUNT(*) AS n_sup
        FROM supplier GROUP BY s_nationkey
    )
    SELECT s_nationkey, n_sup,
           (SELECT COUNT(*) FROM per_key) AS manifest_total,
           CAST(4 AS BIGINT) AS manifest_parts
    FROM per_key
    """,
    survey_ids=("S4", "S1"),
)
def s04_custom_sink(spark, sf_dir):
    """The append-only report sink (S4, my_dag.py:240-243) through a
    custom Python Data Source WRITER (sources/report_sink.py): report
    lines are written by executor tasks into uniquely-named part
    files, and the job is published by the DRIVER-side commit — a
    manifest.json naming every part with its row count plus a
    _SUCCESS marker (task death leaves an unreferenced file, never a
    torn report; cf. the bare open-append it re-expresses). The
    result is assembled ONLY from what the sink produced: part files
    re-read and parsed for the per-nation counts, the manifest for
    the committed total and part count (the write is repartition(4),
    so exactly 4 commit messages). The oracle replays everything from
    the supplier view — a green row proves write → commit → manifest
    → read-back end-to-end. Reentrant via the s01 pattern."""
    import shutil
    import tempfile

    from .sources.report_sink import make_report_sink_datasource

    spark.dataSource.register(make_report_sink_datasource())
    sup = _ld(spark, sf_dir, "supplier")
    lines = (
        sup.groupBy("s_nationkey")
        .agg(F.count("*").alias("n_sup"))
        .select(
            F.format_string("nation=%s suppliers=%s", "s_nationkey", "n_sup").alias(
                "value"
            )
        )
    )
    out = _scratch_dir("echem_custom_sink_")
    lines.repartition(4).write.format("reportsink").option("path", out).mode(
        "append"
    ).save()

    parsed = spark.read.text(f"{out}/part-*.txt").select(
        F.regexp_extract("value", r"nation=(\d+) suppliers=(\d+)", 1)
        .cast("int")
        .alias("s_nationkey"),
        F.regexp_extract("value", r"nation=(\d+) suppliers=(\d+)", 2)
        .cast("bigint")
        .alias("n_sup"),
    )
    manifest = spark.read.option("multiLine", "true").json(f"{out}/manifest.json")
    # the manifest is ONE json document; limit(1) is a no-op that
    # writes that bound into the plan so the crossJoin's BNLJ build
    # side is Catalyst-provably one row (PLANS.md bnlj class)
    totals = manifest.limit(1).select(
        F.col("total_rows").alias("manifest_total"),
        F.size("parts").cast("bigint").alias("manifest_parts"),
    )
    result = parsed.crossJoin(F.broadcast(totals)).select(
        "s_nationkey", "n_sup", "manifest_total", "manifest_parts"
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "x10_stream_custom_source",
    oracle="""
    SELECT n_name AS run_id,
           CAST((n_nationkey % 3) + 2 AS BIGINT) AS n_fillings,
           CAST(printf('%.6f',
                -0.2 + 0.01 * (n_nationkey + (n_nationkey % 3) + 1))
             AS DOUBLE) AS mu
    FROM nation
    """,
    survey_ids=("X10", "S2"),
)
def x10_stream_custom_source(spark, sf_dir):
    """Structured Streaming FROM a custom Python connector
    (sources/solver_out.py stream variant): the solver corpus arrives
    as a bounded file-drop stream — 7 files per micro-batch, offsets =
    position in the sorted listing, replayable via readBetweenOffsets —
    and the reference's last-match parse runs as a streaming
    aggregation (complete mode). Driven by the processingTime
    continuous mode (run_to_memory with ``interval=``): the simple
    Python stream reader prefetches one batch per trigger, so
    availableNow would stop after the first prefetch — the periodic
    trigger drains every batch, and ``processAllAvailable()`` returns
    once a trigger finds the source empty. Proves the
    streaming layer composes with user-defined sources exactly like
    built-in ones: the same parse operator as the batch connector row
    (s02_custom_datasource), same oracle arithmetic, results equal to
    batch on replay (SURVEY §7 streaming-state discipline)."""
    from .sources.solver_out import (
        build_solver_out_fixture,
        make_solver_out_datasource,
        make_solver_out_stream_datasource,
    )
    from .streaming.windows import run_to_memory

    path = build_solver_out_fixture(spark, sf_dir)
    spark.dataSource.register(make_solver_out_stream_datasource())
    # Pre-warm the Python data-source machinery (driver-side plan
    # worker + executor workers) with a bounded 5-row read through the
    # BATCH twin before the stream starts: batch 0 otherwise pays that
    # spin-up inside its first trigger with a 1-4 s run-to-run spread
    # — the widest escalated spread in the r10 bench (runs 4.05-9.69 s,
    # VERDICT r10 item 6); measured, the warm path holds max/min <=
    # 1.25 across repeated runs. A production stream amortizes this
    # startup over its lifetime; a drain-bounded benchmark run pays it
    # once, explicitly, here. (Conf dance as in s02_custom_datasource:
    # Python-source pushdown is conf-gated and the reader declares
    # pushFilters.)
    spark.dataSource.register(make_solver_out_datasource())
    _pd_conf = "spark.sql.python.filterPushdown.enabled"
    _prev_pd = spark.conf.get(_pd_conf, "false")
    spark.conf.set(_pd_conf, "true")
    try:
        spark.read.format("solverout").option("path", path).load().limit(
            5
        ).count()
    finally:
        spark.conf.set(_pd_conf, _prev_pd)
    lines = (
        spark.readStream.format("solverout_stream")
        .option("path", path)
        .option("batch_files", "7")
        .load()
    )
    agg = echem.parse_fillings_lines(lines).select("run_id", "n_fillings", "mu")
    # 100 ms cadence: the corpus is bounded (7 micro-batches), so the
    # trigger interval is pure idle time between prefetched batches —
    # production cadence is a latency/cost knob, not a semantics one
    return run_to_memory(agg, spark, mode="complete", interval="100 milliseconds")


@_register(
    "x14_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', '')) AS BIGINT) AS n_e
    FROM documents
    """,
    survey_ids=("X14", "X13"),
)
def x14_map_in_arrow(spark, sf_dir):
    """Arrow-native map surface (mapInArrow): per-document codepoint
    and substring counts computed by pyarrow.compute kernels on raw
    RecordBatches — no pandas conversion on either side of the
    boundary. Completes the Python batch-API inventory (scalar
    pandas_udf / grouped-agg / grouped-map / map-iter pandas /
    map-iter arrow); value-checked against the pure-SQL form, which
    is what production should use when the expression exists
    (operators/udfs.py::char_stats_arrow)."""
    from .operators.udfs import char_stats_arrow

    return char_stats_arrow(_ld(spark, sf_dir, "documents"))


@_register(
    "s02_csv_quarantine",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               (o_orderkey % 11 = 0) AS bad
        FROM orders
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quarantined,
           CAST(SUM(CASE WHEN NOT bad THEN cents END) AS BIGINT)
               AS sum_cents
    FROM src GROUP BY o_orderstatus
    """,
    survey_ids=("S2", "Q1"),
)
def s02_csv_quarantine(spark, sf_dir):
    """Corrupt-tolerant CSV ingestion (the text-source sibling of
    x08_json_quarantine): one order in 11 is written with a
    deliberately unparseable money field, and the PERMISSIVE reader
    must degrade per-ROW — the typed column nulls out, the raw line
    lands in the declared ``columnNameOfCorruptRecord`` column, and
    NOTHING throws per task (at 100 TB a 1e-7 corruption rate is
    thousands of rows; a fail-fast reader cannot load the file at
    all). The aggregate quarantine-counts corrupt rows per group
    while valid rows keep exact sums; the oracle replays the
    corruption rule from the parquet view. Reentrant via the s01
    pattern."""
    import shutil
    import tempfile

    orders = _ld(spark, sf_dir, "orders")
    cents = _cents(F.col("o_totalprice"))
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("oops")).otherwise(
            cents.cast("string")
        ),
    )
    out = _scratch_dir("echem_csv_quarantine_")
    orders.select(line.alias("value")).write.mode("overwrite").text(out)

    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, cents bigint, "
            "_corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    result = back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).alias(
            "n_quarantined"
        ),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("cents"))).alias(
            "sum_cents"
        ),
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "x14_polymorphic_udtf",
    oracle="""
    SELECT s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey
    FROM supplier
    """,
    survey_ids=("X14", "Q3"),
)
def x14_polymorphic_udtf(spark, sf_dir):
    """Polymorphic Python UDTF with a TABLE argument: output schema
    resolved at PLAN time by analyze() from the input relation's
    schema (columns prefixed 's_n': name + nationkey, a strict
    subset), with a select-pruning list so only surviving columns
    cross into the Python worker. Invoked through the SQL
    table-function surface —
    ``SELECT * FROM prefix_cols(TABLE(supplier), ...)`` — and
    value-checked against the equivalent static projection, proving
    the dynamic schema path loses nothing. UDTF eval is inherently
    per-row Python; keep it off fact-table-sized inputs (the Arrow
    UDTF path measured 6x worse still for 1:1 maps — see
    make_prefix_cols_udtf).
    operators/udfs.py::make_prefix_cols_udtf."""
    from .operators.udfs import make_prefix_cols_udtf
    from .sources import register_views

    register_views(spark, sf_dir)
    spark.udtf.register("prefix_cols", make_prefix_cols_udtf())
    return spark.sql("SELECT * FROM prefix_cols(TABLE(supplier), 's_n')")


@_register(
    "x03_unpivot",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS base_cents,
               CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                    AS BIGINT) AS disc_pts
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'base_cents', base_cents FROM w
    UNION ALL
    SELECT l_returnflag, 'disc_pts', disc_pts FROM w
    """,
    survey_ids=("X3", "X2"),
)
def x03_unpivot(spark, sf_dir):
    """Wide→long melt (the inverse of x03_pivot, completing the
    reshaping pair): a per-flag aggregate with one column per measure
    is unpivoted into (flag, measure, value) rows via the native
    ``unpivot`` — a zero-shuffle generator expression (each input row
    expands to k output rows in place), NOT a union of k re-scans,
    which is what the oracle's UNION ALL spelling would cost if
    executed literally at 100 TB. Measures share the BIGINT type, the
    unpivot contract."""
    li = _ld(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("base_cents"),
        F.sum(_cents(F.col("l_discount"))).alias("disc_pts"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["qty", "base_cents", "disc_pts"],
        "measure",
        "value",
    )


@_register(
    "x09_dynamic_gap_sessions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN 600 ELSE 1800 END
                 AS gap_s,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('microsecond', prev_ts, ts)
                            > gap_s * 1000000
                    THEN 1 ELSE 0 END AS boundary
        FROM ordered
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(boundary) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
    survey_ids=("X9", "X4"),
)
def x09_dynamic_gap_sessions(spark, sf_dir):
    """Dynamic-gap sessionization (X9's production form): the
    inactivity threshold is a PER-ROW expression — error events break
    a session after 10 minutes, everything else after 30 — so the
    timeout is data, not a constant. Same single shuffle+sort plan as
    the fixed-gap form; the oracle replays the identical lag/boundary
    arithmetic in exact microsecond integers.
    operators/sessions.py::sessionize_dynamic."""
    from .operators.sessions import sessionize_dynamic

    ev = _ld(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    gap = F.when(F.col("event_type") == "error", F.lit(600)).otherwise(
        F.lit(1800)
    )
    sess = sessionize_dynamic(
        ev, "user_id", "ts", gap_seconds=gap, tie_col="event_id"
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@_register(
    "t13_pii_redact",
    oracle="""
    WITH aug AS (
        SELECT doc_id, lang,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact u' || CAST(doc_id AS VARCHAR)
                            || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' call 555-01' || printf('%02d', doc_id % 100)
                       ELSE '' END AS t
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+')))
             AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(t, '555-01[0-9][0-9]')))
             AS BIGINT) AS n_phones,
           CAST(SUM(LENGTH(regexp_replace(
                   regexp_replace(t, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+',
                                  '<EMAIL>', 'g'),
                   '555-01[0-9][0-9]', '<PHONE>', 'g'))) AS BIGINT)
               AS redacted_chars
    FROM aug GROUP BY lang
    """,
    survey_ids=("X13", "Q5"),
)
def t13_pii_redact(spark, sf_dir):
    """PII find-and-mask over the corpus (the compliance pass every
    training-data pipeline runs before release): synthetic emails and
    phone numbers are planted deterministically (1-in-5 / 1-in-7 docs
    — planted-data discipline, the natural corpus contains none), then
    counted with regexp_extract_all and masked with nested
    regexp_replace in one JVM-side pass. The per-language rollup
    value-checks both the audit counts and the masked text length;
    the oracle replays planting, counting and masking (note DuckDB's
    regexp_replace needs the 'g' flag to match Spark's replace-all).
    operators/textstats.py::pii_redact."""
    from .operators import textstats

    docs = _ld(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.format_string(" contact u%d@example.com", F.col("doc_id")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.format_string(" call 555-01%02d", (F.col("doc_id") % 100).cast("int")),
            ).otherwise(F.lit("")),
        ),
    )
    per_doc = textstats.pii_redact(aug)
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_phones").alias("n_phones"),
        F.sum(F.length("redacted")).alias("redacted_chars"),
    )


@_register(
    "q21_observed_load",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           (SELECT COUNT(*) FROM orders) AS observed_rows,
           (SELECT COUNT(*) - COUNT(o_custkey) FROM orders)
             AS observed_null_keys
    FROM orders GROUP BY o_orderstatus
    """,
    survey_ids=("Q21", "Q1"),
)
def q21_observed_load(spark, sf_dir):
    """Observation-based load accounting, value-checked end-to-end:
    quality metrics (input row count, null-key count) are attached
    with ``pipeline.with_observation`` and collected BY the job that
    materializes the per-status aggregate — no second scan — then
    folded back into the result as columns, so the DRIVER's oracle
    diff checks the observed numbers themselves against a replay from
    the raw view. The reference logs its row count with a dedicated
    task (my_dag.py:30); this is that check riding the load for free.
    The observed metrics cross the driver as one O(1) dict — the same
    driver-discipline class as a convergence count."""
    from .pipeline import with_observation

    orders = _ld(spark, sf_dir, "orders")
    gated, obs = with_observation(
        orders,
        {
            "observed_rows": F.count(F.lit(1)),
            "observed_null_keys": F.sum(
                F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
            ),
        },
    )
    agg = gated.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"),
    )
    # one action: materializes the aggregate into a literal frame AND
    # fires the observation
    agg = _literal_result(spark, agg)
    got = obs.get
    # literal columns, not a crossJoin(broadcast(one_row_frame)): the
    # metrics are already O(1) driver values, and lit() keeps the plan
    # BNLJ-free (the one-row frame's bound is unprovable to Catalyst)
    return agg.withColumns(
        {
            "observed_rows": F.lit(int(got["observed_rows"])).cast("bigint"),
            "observed_null_keys": F.lit(
                int(got["observed_null_keys"] or 0)
            ).cast("bigint"),
        }
    )


@_register(
    "s01_compaction",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(48 AS BIGINT) AS n_files_fragmented,
           TRUE AS compacted
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    survey_ids=("S1",),
)
def s01_compaction(spark, sf_dir):
    """Small-files compaction round-trip (S1 table maintenance): one
    year of lineitem is deliberately fragmented into 48 tiny parquet
    files (the streaming-append pathology), compacted with
    sources/sinks.py::compact_parquet (byte-sized output count,
    range-clustered on l_shipdate), and the COMPACTED table is read
    back and aggregated per ship month — every value flows through
    the fragmented write AND the compaction rewrite, so a green row
    proves content fidelity of the maintenance pass.
    ``n_files_fragmented`` counts the actual small files on disk (= 48
    by construction); ``compacted`` asserts the rewrite produced
    strictly fewer files. Reentrant: per-invocation mkdtemp, result
    collected into a literal frame, dir deleted before returning."""
    import shutil
    import tempfile
    from pathlib import Path

    from .sources.sinks import compact_parquet

    li = _ld(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    out = Path(_scratch_dir("echem_compaction_"))
    src, dst = f"{out}/fragmented", f"{out}/compacted"
    li.repartition(48).write.parquet(src)
    n_in, n_out = compact_parquet(
        spark, src, dst, target_bytes=8 * 1024 * 1024, cluster_col="l_shipdate"
    )
    back = spark.read.parquet(dst)
    result = (
        back.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("price_cents"),
        )
        .withColumn("n_files_fragmented", F.lit(n_in).cast("bigint"))
        .withColumn("compacted", F.lit(n_out < n_in))
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


#: DuckDB spelling of operators/audit.canonical_row_hash for the
#: lineitem checksum columns (same md5-prefix hash as
#: functions/hashing.duckdb_det_hash_str, same chr(31) separator and
#: chr(0) NULL sentinel).
_CHECKSUM_H_SQL = """
    (('0x' || substr(md5(concat_ws(chr(31),
        CAST(l_orderkey AS VARCHAR),
        CAST(l_linenumber AS VARCHAR),
        CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR),
        CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
        coalesce(l_returnflag, chr(0)),
        strftime(l_shipdate, '%Y-%m-%d'))), 1, 12))::BIGINT)
"""


@_register(
    "s18_table_checksum",
    oracle=f"""
    WITH h AS (
        SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               {_CHECKSUM_H_SQL} AS hh
        FROM lineitem
    )
    SELECT ship_year, COUNT(*) AS n_rows,
           bit_xor(hh) AS xor_fp, MIN(hh) AS min_h, MAX(hh) AS max_h
    FROM h GROUP BY ship_year
    """,
    survey_ids=("X6", "Q21"),
)
def s18_table_checksum(spark, sf_dir):
    """Order-independent table content fingerprint (the post-migration
    / post-compaction validation primitive): per ship year, the XOR of
    canonical per-row hashes plus count/min/max — commutative and
    overflow-free, so partials merge across any executor count and the
    whole check is ONE scan per replica at 100 TB, no re-sort. The
    oracle recomputes the identical md5-prefix hash in DuckDB, which
    IS the cross-engine migration diff this operator exists for.
    operators/audit.py::table_fingerprint."""
    from .operators.audit import table_fingerprint

    li = _ld(spark, sf_dir, "lineitem")
    return table_fingerprint(
        li.withColumn(
            "ship_year", F.year("l_shipdate").cast("int")
        ),
        ["ship_year"],
        [
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            _cents(F.col("l_extendedprice")),
            F.col("l_quantity").cast("bigint"),
            F.col("l_returnflag"),
            F.date_format("l_shipdate", "yyyy-MM-dd"),
        ],
    )


#: Canonical supplier row hash for the snapshot-diff fixture (same
#: md5-prefix convention as _CHECKSUM_H_SQL).
_DIFF_H_SQL = """
    (('0x' || substr(md5(concat_ws(chr(31),
        CAST({k} AS VARCHAR),
        CAST({n} AS VARCHAR),
        CAST({c} AS VARCHAR))), 1, 12))::BIGINT)
"""


@_register(
    "s18_snapshot_diff",
    oracle=f"""
    WITH sup AS (SELECT s_suppkey, s_nationkey,
                        CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS c
                 FROM supplier),
    cur AS (
        SELECT s_suppkey, s_nationkey,
               CASE WHEN s_suppkey % 11 = 0 THEN c + 1 ELSE c END AS c
        FROM sup WHERE s_nationkey <> 3
        UNION ALL
        SELECT s_suppkey + 100000, 77, c FROM sup WHERE s_nationkey = 5
    ),
    hb AS (SELECT s_nationkey,
                  {_DIFF_H_SQL.format(k='s_suppkey', n='s_nationkey', c='c')}
                    AS hh
           FROM sup),
    hc AS (SELECT s_nationkey,
                  {_DIFF_H_SQL.format(k='s_suppkey', n='s_nationkey', c='c')}
                    AS hh
           FROM cur),
    fb AS (SELECT s_nationkey, COUNT(*) AS n, bit_xor(hh) AS x,
                  MIN(hh) AS mn, MAX(hh) AS mx
           FROM hb GROUP BY 1),
    fc AS (SELECT s_nationkey, COUNT(*) AS n, bit_xor(hh) AS x,
                  MIN(hh) AS mn, MAX(hh) AS mx
           FROM hc GROUP BY 1)
    SELECT s_nationkey,
           CASE WHEN fb.n IS NULL THEN 'added'
                WHEN fc.n IS NULL THEN 'removed'
                WHEN fb.n = fc.n AND fb.x = fc.x
                     AND fb.mn = fc.mn AND fb.mx = fc.mx THEN 'same'
                ELSE 'changed' END AS status,
           CAST(COALESCE(fb.n, 0) AS BIGINT) AS n_rows_base,
           CAST(COALESCE(fc.n, 0) AS BIGINT) AS n_rows_cur
    FROM fb FULL OUTER JOIN fc USING (s_nationkey)
    """,
    survey_ids=("X6", "S3"),
)
def s18_snapshot_diff(spark, sf_dir):
    """Partition-grained snapshot drift report (the incremental-
    downstream primitive: after a backfill / compaction / CDC replay,
    which partitions ACTUALLY changed, so downstream reprocesses only
    those): two table fingerprints (one scan each, XOR row hashes per
    nation) full-outer-joined and classified added / removed /
    changed / same. The current snapshot plants all three drift kinds
    — every 11th supplier's balance bumped one cent (changed), nation
    3 dropped (removed), nation 5 cloned to a new nation 77 (added) —
    and nations untouched by any of it must come back 'same', which
    pins the no-false-positive property a reprocessing trigger needs.
    operators/audit.py::fingerprint_diff."""
    from .operators.audit import fingerprint_diff, table_fingerprint

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", _cents(F.col("s_acctbal")).alias("c")
    )
    cur = sup.filter(F.col("s_nationkey") != 3).select(
        "s_suppkey",
        "s_nationkey",
        F.when(F.col("s_suppkey") % 11 == 0, F.col("c") + 1)
        .otherwise(F.col("c"))
        .alias("c"),
    ).unionByName(
        sup.filter(F.col("s_nationkey") == 5).select(
            (F.col("s_suppkey") + 100000).alias("s_suppkey"),
            F.lit(77).cast("bigint").alias("s_nationkey"),
            "c",
        )
    )
    hcols = [F.col("s_suppkey"), F.col("s_nationkey"), F.col("c")]
    return fingerprint_diff(
        table_fingerprint(sup, ["s_nationkey"], hcols),
        table_fingerprint(cur, ["s_nationkey"], hcols),
        ["s_nationkey"],
    )


@_register(
    "s18_profile_table",
    oracle="""
    SELECT 'l_returnflag' AS col_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulls,
           COUNT(DISTINCT l_returnflag) AS n_distinct,
           MIN(CAST(l_returnflag AS VARCHAR)) AS min_val,
           MAX(CAST(l_returnflag AS VARCHAR)) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', COUNT(*),
           CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT l_linestatus),
           MIN(CAST(l_linestatus AS VARCHAR)),
           MAX(CAST(l_linestatus AS VARCHAR))
    FROM lineitem
    UNION ALL
    SELECT 'l_orderkey', COUNT(*),
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT l_orderkey),
           MIN(CAST(l_orderkey AS VARCHAR)),
           MAX(CAST(l_orderkey AS VARCHAR))
    FROM lineitem
    UNION ALL
    SELECT 'l_linenumber', COUNT(*),
           CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT l_linenumber),
           MIN(CAST(l_linenumber AS VARCHAR)),
           MAX(CAST(l_linenumber AS VARCHAR))
    FROM lineitem
    """,
    survey_ids=("X6", "Q21"),
)
def s18_profile_table(spark, sf_dir):
    """ANALYZE-style column profile (the pre-training data-quality
    gate): nulls / exact distincts / string-cast bounds for four
    lineitem columns in ONE scan — the wide rows are melted to
    (column, value) pairs with the in-place stack generator (no
    k rescans, unlike the oracle's UNION ALL spelling, which IS the
    naive k-scan form) and profiled with a single hash aggregate
    keyed on column name. operators/audit.py::profile_columns."""
    from .operators.audit import profile_columns

    li = _ld(spark, sf_dir, "lineitem")
    return profile_columns(
        li, ["l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber"]
    )


@_register(
    "s18_outlier_mad",
    oracle="""
    WITH e AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    r AS (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM e
    ),
    med AS (
        SELECT event_type, MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                 AS med_cents
        FROM r GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.event_id, e.cents,
               abs(e.cents - m.med_cents) AS adev, m.med_cents
        FROM e JOIN med m USING (event_type)
    ),
    dr AS (
        SELECT event_type, adev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY adev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END)
                 AS mad_cents
        FROM dr GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(MAX(d.med_cents) AS BIGINT) AS med_cents,
           CAST(MAX(a.mad_cents) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN d.adev > 3 * a.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n_total
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
    survey_ids=("X6", "X4"),
)
def s18_outlier_mad(spark, sf_dir):
    """Robust outlier accounting per event type — median/MAD, the
    data-quality screen that survives the exact contamination it is
    screening for (a mean/stddev gate moves with every outlier it
    should flag; the breakdown point of the median is 50%). All
    arithmetic is integer-exact: values are cents, the LOWER median is
    the rank-⌈n/2⌉ order statistic (no midpoint interpolation, so no
    floats and no half-even cross-engine hazard), MAD is the lower
    median of absolute deviations, and the flag is the classic
    |x − med| > 3·MAD in pure bigint comparisons. Plan: two
    rank-selection passes (each one shuffle+sort on event_type) and a
    broadcast join of the per-type medians back onto the stream.
    Exact grouped medians are inherently rank-based — at 100 TB the
    screening twin is approx_percentile on the same cents column
    (mergeable sketch, one pass), with this exact form as its audit;
    the per-type sort partitions by the handful of event types, so a
    single giant type takes the salted two-phase rank-selection escape
    (operators/scale.py::global_row_number's shape) if it ever
    dominates a task."""
    from pyspark.sql.window import Window

    ev = _ld(spark, sf_dir, "events").select(
        "event_type", "event_id", _cents(F.col("value")).alias("cents")
    )

    def _lower_median(df, val_col, out_name):
        # group sizes via a tiny agg + broadcast join, NOT a second
        # partition-frame window — halves the window passes and keeps
        # the size lookup off the sorted stream
        wr = Window.partitionBy("event_type").orderBy(val_col, "event_id")
        sizes = df.groupBy("event_type").agg(F.count("*").alias("n"))
        ranked = df.select(
            "event_type", F.col(val_col), F.row_number().over(wr).alias("rn")
        ).join(F.broadcast(sizes), "event_type")
        return ranked.groupBy("event_type").agg(
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 1) DIV 2"), F.col(val_col)
                )
            ).alias(out_name)
        )

    med = _lower_median(ev, "cents", "med_cents")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "med_cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
    )
    mad = _lower_median(dev, "adev", "mad_cents")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_cents")).cast("bigint")
            ).alias("n_outliers"),
            F.count("*").alias("n_total"),
        )
    )


@_register(
    "s19_retractable_rollup",
    oracle="""
    WITH o AS (SELECT o_orderstatus, o_orderkey,
                      CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
               FROM orders)
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 10 <> 0 THEN cents ELSE 0 END)
                AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retracted
    FROM o GROUP BY 1
    HAVING SUM(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) > 0
    """,
    survey_ids=("X3", "S3"),
)
def s19_retractable_rollup(spark, sf_dir):
    """Retraction-aware materialized-view refresh (the CDC-delete half
    of IVM, completing s19_incremental_rollup's insert-only algebra):
    the standing rollup is built from ALL orders, a delete batch
    (every 10th orderkey) arrives as a retraction rollup, and the
    merge applies signed accumulators — a deleted row contributes
    (-1, -cents), so the refresh stays O(delta) where a naive approach
    re-scans the base table. The oracle recomputes from surviving rows
    directly: incremental-with-deletes == full recompute is the
    invariant; ``n_retracted`` surfaces which groups absorbed deletes
    (the rebuild signal for non-retractable min/max accumulators,
    which deliberately do not flow through this path).
    operators/audit.py::retract_rollup."""
    from .operators.audit import retract_rollup

    o = _ld(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("cents"),
    )

    def _acc(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    base = _acc(o)
    deletes = _acc(o.filter(F.col("o_orderkey") % 10 == 0))
    return retract_rollup(base, deletes, ["o_orderstatus"])


@_register(
    "s19_incremental_rollup",
    oracle="""
    SELECT o_orderstatus,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents,
           MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS min_cents,
           MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS max_cents
    FROM orders
    GROUP BY 1, 2
    """,
    survey_ids=("X3", "S3"),
)
def s19_incremental_rollup(spark, sf_dir):
    """Incremental materialized-aggregate refresh (the
    materialized-view maintenance primitive): ~80% of orders is rolled
    up into accumulator columns and MATERIALIZED to parquet (the
    standing aggregate table); the remaining ~20% arrives as a delta
    batch, is rolled up with the SAME accumulator shape, and the two
    are merged with the combine algebra (sum-of-counts, sum-of-sums,
    min-of-mins, max-of-maxes) — so refresh cost is O(delta), never a
    re-scan of the base table. The oracle recomputes the rollup from
    ALL rows directly: incremental == full recompute is exactly the
    invariant that makes incremental refresh trustworthy.
    operators/audit.py::merge_partial_rollup. Reentrant:
    per-invocation mkdtemp, literal collected frame, dir deleted."""
    import shutil
    import tempfile
    from pathlib import Path

    from .operators.audit import merge_partial_rollup, rollup_accumulators

    orders = _ld(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    keys = ["o_orderstatus", "order_month"]
    base_rows = orders.filter(F.col("o_orderkey") % 10 < 8)
    delta_rows = orders.filter(F.col("o_orderkey") % 10 >= 8)

    out = Path(_scratch_dir("echem_incr_rollup_"))
    rollup_accumulators(base_rows, keys, F.col("cents")).write.parquet(
        f"{out}/base"
    )
    base = spark.read.parquet(f"{out}/base")
    merged = merge_partial_rollup(
        base, rollup_accumulators(delta_rows, keys, F.col("cents")), keys
    )
    result = _literal_result(spark, merged)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s01_zorder_scan",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1
    """,
    survey_ids=("S1", "Q1"),
)
def s01_zorder_scan(spark, sf_dir):
    """Z-order clustered layout round-trip (S1): orders rewritten
    Morton-interleaved on (customer, order day) with
    sources/sinks.py::write_zordered, then re-read through a
    TWO-dimensional predicate (customer band AND six-month window) —
    the case range clustering cannot serve, because files tight on one
    dimension are unbounded on the other. Every output value flows
    through the z-ordered rewrite; the oracle replays from the raw
    table. The rectangle-per-file property itself is pinned in
    tests/test_merge_sink.py::test_zorder_files_are_rectangles.
    Reentrant: per-invocation mkdtemp, literal collected frame, dir
    deleted."""
    import shutil
    import tempfile
    from pathlib import Path

    from .sources.sinks import write_zordered

    orders = _ld(spark, sf_dir, "orders").withColumn(
        "o_orderday", F.datediff("o_orderdate", F.lit("1995-01-01"))
    )
    out = Path(_scratch_dir("echem_zorder_"))
    write_zordered(orders, f"{out}/orders", "o_custkey", "o_orderday")
    back = spark.read.parquet(f"{out}/orders")
    result = (
        back.filter(
            F.col("o_custkey").between(100, 400)
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"),
        )
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s03_time_travel",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS v1_cents,
           CAST(SUM(cents + CASE WHEN s_suppkey % 2 = 0
                                 THEN 1000 ELSE 0 END) AS BIGINT)
             AS v2_cents,
           CAST(SUM(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed
    FROM (SELECT s_suppkey, s_nationkey,
                 CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS cents
          FROM supplier)
    GROUP BY 1
    """,
    survey_ids=("S3",),
)
def s03_time_travel(spark, sf_dir):
    """Snapshot time travel over the managed MERGE table (S3): two
    merges build versions 1 and 2 (the second updates every even
    supplier's balance by +1000 cents), then BOTH retained snapshots
    are read back by version and diffed per nation — v1/v2 sums and
    the changed-key count all flow through the snapshot store, so a
    green row proves commit isolation (v1 unchanged by the second
    merge) and version addressing, the two guarantees time travel
    means. sources/sinks.py::read_snapshot; retention = the merge's
    keep_snapshots vacuum. Reentrant: per-invocation mkdtemp, literal
    collected frame, dir deleted."""
    import shutil
    import tempfile
    from pathlib import Path

    from .sources.sinks import merge_parquet, read_snapshot

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        _cents(F.col("s_acctbal")).alias("cents"),
    )
    out = Path(_scratch_dir("echem_time_travel_"))
    root = f"{out}/table"
    merge_parquet(sup, root, ["s_suppkey"], "s_suppkey")
    batch2 = sup.filter(F.col("s_suppkey") % 2 == 0).withColumn(
        "cents", F.col("cents") + 1000
    )
    merge_parquet(batch2, root, ["s_suppkey"], "s_suppkey")

    v1 = read_snapshot(spark, root, 1).select(
        "s_suppkey", "s_nationkey", F.col("cents").alias("c1")
    )
    v2 = read_snapshot(spark, root, 2).select(
        "s_suppkey", F.col("cents").alias("c2")
    )
    result = (
        v1.join(v2, "s_suppkey")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("c1").cast("bigint").alias("v1_cents"),
            F.sum("c2").cast("bigint").alias("v2_cents"),
            F.sum(F.when(F.col("c1") != F.col("c2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_changed"),
        )
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "x10_stream_outer_join",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    j AS (SELECT c.event_id AS left_id, p.event_id AS right_id,
                 c.user_id, c.ts AS left_ts, p.ts AS right_ts
          FROM c LEFT JOIN p
            ON p.user_id = c.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    SELECT * FROM j
    WHERE left_ts <= (SELECT least(MAX(c2.ts), MAX(p2.ts))
                      FROM c AS c2, p AS p2) - INTERVAL 91 MINUTE
    """,
    survey_ids=("X10", "X5"),
)
def x10_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join (X10): clicks with no
    purchase in the following 30 minutes emit a null-padded row — but
    only once the watermark proves no match can still arrive (state
    eviction), which is why outer stream joins REQUIRE the watermark +
    time bound: "no match" is undecidable on an unbounded stream
    without them. Replay-checked against the batch left join on the
    CLOSED region (left_ts ≤ watermark floor − within − 1 min
    margin), the same discipline as the session-window replays —
    boundary rows whose window hasn't provably closed are withheld by
    the engine and excluded from the oracle identically. The watermark
    floor is ``least(max(click ts), max(purchase ts)) − watermark``,
    NOT the overall max(ts): the query carries one watermark node per
    input stream and the GLOBAL watermark is the MINIMUM across them,
    so e.g. the last click of the replay can never have its no-match
    row emitted — its own stream's watermark cannot pass it (observed
    at sf0.001, where max(click ts) trails max(ts) by ~4 h).
    streaming/windows.py::stream_interval_join(how='left_outer')."""
    from .sources import load_table
    from .streaming.windows import (
        read_events_stream,
        run_to_memory,
        stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_to_memory(
        stream_interval_join(ev, how="left_outer"), spark, mode="append"
    )
    maxts = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
        )
        .first()[0]
    )
    return out.filter(
        F.col("left_ts") <= F.lit(maxts) - F.expr("interval 91 minutes")
    )


@_register(
    "s02_orc_roundtrip",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(ROUND(p_retailprice * 100, 0) AS BIGINT))
                AS BIGINT) AS price_cents,
           CAST(SUM(CASE WHEN p_name IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_name,
           CAST(SUM(p_size) AS BIGINT) AS total_size
    FROM (SELECT p_brand, p_retailprice, p_size,
                 CASE WHEN p_partkey % 5 = 0 THEN NULL
                      ELSE p_name END AS p_name
          FROM part)
    GROUP BY p_brand
    """,
    survey_ids=("S2", "S1"),
)
def s02_orc_roundtrip(spark, sf_dir):
    """ORC round-trip source/sink (S1+S2's columnar sibling to the
    parquet sinks): the part table — keys, money, a NULL-ed string column — is
    written as ORC and read back with an explicit schema, and the
    returned aggregate is computed from the READ-BACK frame only while
    the oracle replays the derivation from the parquet view. ORC is
    Spark's other first-class columnar store (vectorized reader,
    predicate pushdown, column pruning all apply exactly as for
    parquet), and interop with Hive-era estates is why a 100 TB
    migration meets it; this row pins that the engine's value fidelity
    is format-independent. Reentrant via the s01 pattern (mkdtemp →
    write → read → eager literal collect → delete)."""
    import shutil
    import tempfile

    part = _ld(spark, sf_dir, "part")
    src = part.select(
        "p_brand",
        _cents(F.col("p_retailprice")).alias("price_cents"),
        "p_size",
        F.when(F.col("p_partkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("p_name"))
        .alias("p_name"),
    )
    out = _scratch_dir("echem_orc_roundtrip_")
    src.write.mode("overwrite").orc(out)
    back = spark.read.schema(src.schema).orc(out)
    result = back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum("price_cents").alias("price_cents"),
        F.sum(F.when(F.col("p_name").isNull(), 1).otherwise(0)).alias(
            "n_null_name"
        ),
        F.sum("p_size").alias("total_size"),
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s02_xml_roundtrip",
    oracle="""
    WITH src AS (
        SELECT c_nationkey,
               CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
               CASE WHEN c_custkey % 11 = 0 THEN NULL
                    ELSE c_mktsegment END AS seg,
               c_name || '<&">' AS tricky
        FROM customer
    )
    SELECT c_nationkey,
           COUNT(*) AS n_rows,
           CAST(SUM(bal_cents) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_seg,
           CAST(SUM(LENGTH(tricky)) AS BIGINT) AS tricky_chars
    FROM src GROUP BY c_nationkey
    """,
    survey_ids=("S2", "X8"),
)
def s02_xml_roundtrip(spark, sf_dir):
    """XML round-trip source (S2's document-markup family, native in
    Spark 4): the customer table — keys, money, NULLs, and a string
    column embedding the XML metacharacters ``< & "`` — is written as
    element-per-row XML and read back with an EXPLICIT schema, and the
    returned aggregate is computed from the read-back frame only while
    the oracle replays the derivation from the parquet view. What the
    row pins: entity escaping round-trips the hostile string
    byte-exactly, absent elements come back as SQL NULLs (not empty
    strings), and bigint fidelity survives text encoding — the
    source-contract details XML feeds (B2B interchange, legacy
    estates) hinge on. Reentrant via the s01 pattern (mkdtemp → write
    → read → eager literal collect → delete)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    cust = _ld(spark, sf_dir, "customer")
    src = cust.select(
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        _cents(F.col("c_acctbal")).alias("bal_cents"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.concat(F.col("c_name"), F.lit('<&">')).alias("tricky"),
    )
    out = _scratch_dir("echem_xml_roundtrip_")
    src.write.mode("overwrite").format("xml").option("rowTag", "row").save(
        out
    )
    schema = StructType(
        [
            StructField("c_nationkey", IntegerType()),
            StructField("bal_cents", LongType()),
            StructField("seg", StringType()),
            StructField("tricky", StringType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(out)
    )
    result = back.groupBy("c_nationkey").agg(
        F.count("*").alias("n_rows"),
        F.sum("bal_cents").alias("sum_cents"),
        F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0)).alias(
            "n_null_seg"
        ),
        F.sum(F.length("tricky")).alias("tricky_chars"),
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s01_dynamic_overwrite",
    oracle="""
    SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN s_nationkey = 3
                         THEN CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) + 1000
                         ELSE CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)
                    END) AS BIGINT) AS bal_cents
    FROM supplier GROUP BY 1
    """,
    survey_ids=("S1", "S3"),
)
def s01_dynamic_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (S1's idempotent-backfill
    semantics): a partitioned table is written in full, then ONE
    partition is restated by an overwrite-mode write that — under
    ``partitionOverwriteMode=dynamic`` — replaces ONLY the partitions
    present in the incoming frame, leaving every other partition's
    files untouched. This is the nightly-backfill contract at 100 TB:
    re-running a day's job must replace that day, not truncate the
    table (the STATIC default deletes ALL partitions first — the
    classic data-loss footgun this row pins the guard against). The
    read-back aggregate proves both halves: partition 3 carries the
    restated values (+1000 cents), all others the originals. The conf
    is set around the write and restored (the driver's session is not
    ours to mutate). Reentrant via the s01 pattern."""
    import shutil
    import tempfile
    from pathlib import Path

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        _cents(F.col("s_acctbal")).alias("bal_cents"),
    )
    out = Path(_scratch_dir("echem_dyn_overwrite_"))
    root = f"{out}/suppliers"
    sup.write.partitionBy("s_nationkey").parquet(root)

    restated = sup.filter(F.col("s_nationkey") == 3).withColumn(
        "bal_cents", F.col("bal_cents") + 1000
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        restated.write.mode("overwrite").partitionBy(
            "s_nationkey"
        ).parquet(root)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    back = spark.read.parquet(root)
    result = (
        back.groupBy(F.col("s_nationkey").cast("int").alias("s_nationkey"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("bal_cents").alias("bal_cents"),
        )
    )
    result = _literal_result(spark, result)
    shutil.rmtree(out, ignore_errors=True)
    return result


@_register(
    "s15_bloom_prune",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_li,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
    )
    GROUP BY l_returnflag
    """,
    survey_ids=("X5", "Q2"),
)
def s15_bloom_prune(spark, sf_dir):
    """Bloom-filter row pruning ahead of a selective semi-join (scale
    pattern, the explicit form of Spark's runtime row-level
    filtering): a selective dimension predicate (~4% of orders —
    urgent AND high-value) builds an 8 KB bitmap that broadcasts as
    ONE ROW and kills non-matching fact rows AT THE SCAN, so the join
    shuffle moves ~4% of the bytes instead of all of them. The bloom
    pass can only ADD false positives (never drop a match), and the
    exact semi-join that follows removes them — so the result equals
    the plain semi-join row-for-row, which is the oracle. All-JVM
    expressions (xxhash64 positions, bit_or bitmap, map lookup), no
    UDF, no driver collect. operators/scale.py::bloom_prefilter;
    superset + equality properties unit-tested in
    tests/test_scale.py."""
    from .operators.scale import bloom_prefilter

    keys = (
        _ld(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 400000)
        )
        .select("o_orderkey")
    )
    li = _ld(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    pruned = bloom_prefilter(li, "l_orderkey", keys, "o_orderkey")
    exact = pruned.join(
        F.broadcast(keys),
        pruned["l_orderkey"] == keys["o_orderkey"],
        "leftsemi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count("*").alias("n_li"),
        F.sum(_cents(F.col("l_extendedprice"))).cast("bigint").alias(
            "sum_cents"
        ),
    )


@_register(
    "s01_dpp_scan",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_orderdate >= DATE '1996-04-01'
      AND o_orderdate <  DATE '1996-07-01'
    GROUP BY 1
    """,
    survey_ids=("S1", "Q1"),
)
def s01_dpp_scan(spark, sf_dir):
    """Dynamic partition pruning round-trip (S1's partitioned-layout
    payoff): orders is written partitioned by month, then joined to a
    month dimension filtered on a NON-JOIN column (quarter label) —
    the shape where static pruning is impossible (the partition values
    are only known after the dim filter runs) and Spark injects a
    DynamicPruningExpression into the fact scan from the broadcast
    side, so only the 3 matching month directories are read. At 100 TB
    this is the difference between scanning 3 partitions and scanning
    84. The dynamicpruning plan shape is pinned in tests/test_scale.py
    ::test_dynamic_partition_pruning_on_partitioned_sink; values
    replay from the raw table in the oracle.
    Reentrant: per-invocation mkdtemp, literal collected frame, dir
    deleted."""
    import shutil

    root = _scratch_dir("echem_dpp_")
    try:
        o = _ld(spark, sf_dir, "orders").select(
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("cents"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        o.write.mode("overwrite").partitionBy("month").parquet(root)
        fact = spark.read.parquet(root)
        dim = (
            _ld(spark, sf_dir, "orders")
            .select(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .distinct()
            .withColumn(
                "quarter",
                F.concat(
                    F.substring("month", 1, 4),
                    F.lit("-Q"),
                    F.ceil(
                        F.substring("month", 6, 2).cast("int") / 3
                    ).cast("int"),
                ),
            )
        )
        joined = fact.join(
            F.broadcast(dim.filter(F.col("quarter") == "1996-Q2")), "month"
        )
        result = joined.groupBy("month").agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: TPC-H-Q10-shaped returned-item revenue ranking, dialect-portable
#: (its own oracle): which customers drove the most returned revenue
#: in a quarter — 4-table join, selective flag + date predicates, top-20.
_RETURNED_ITEMS_SQL = """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
             AS BIGINT) AS revenue_c4,
           COUNT(*) AS n_li
    FROM customer c
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_c4 DESC, c.c_custkey
    LIMIT 20
    """


@_register(
    "sql_surface_returned_items",
    oracle=_RETURNED_ITEMS_SQL,
    survey_ids=("Q17", "Q21", "X1"),
)
def sql_surface_returned_items(spark, sf_dir):
    """Returned-item revenue ranking (TPC-H Q10 shape) through
    ``spark.sql``: the quarterly who-returned-the-most report — a
    4-table join where the return-flag predicate prunes the fact scan,
    the date window prunes orders, nation broadcasts, and the top-20
    resolves as TakeOrderedAndProject (per-partition heaps + driver
    merge, no global sort materialization). Revenue stays in integer
    cents×percent so grouped sums are bit-identical across engines;
    ties broken by the unique customer key. Same text is the DuckDB
    oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RETURNED_ITEMS_SQL)


#: TPC-H-Q12-shaped conditional aggregation over a fact join: per
#: return-flag, how many 1997 shipments came from high- vs low-priority
#: orders. The CASE-inside-SUM pivot every ops dashboard runs.
_PRIORITY_MIX_SQL = """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate <  DATE '1998-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """


@_register(
    "sql_surface_priority_mix",
    oracle=_PRIORITY_MIX_SQL,
    survey_ids=("Q17", "Q21", "X3"),
)
def sql_surface_priority_mix(spark, sf_dir):
    """Shipping-priority mix (TPC-H Q12 shape) through ``spark.sql``:
    conditional aggregation (CASE inside SUM — the manual pivot) over
    an orders⋈lineitem join with a one-year ship-date window pushed to
    the fact scan. Counts are integers by construction so parity is
    exact; the grouped output is 3 rows however large the corpus.
    Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PRIORITY_MIX_SQL)


#: TPC-H-Q14-shaped promo-revenue share for one month, kept as an exact
#: integer numerator/denominator pair (callers divide at the edge).
_PROMO_SHARE_SQL = """
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                       * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT))
                    ELSE 0 END) AS BIGINT) AS promo_c4,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
             AS BIGINT) AS total_c4,
           COUNT(*) AS n_li
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= DATE '1997-09-01'
      AND l.l_shipdate <  DATE '1997-10-01'
    """


@_register(
    "sql_surface_promo_share",
    oracle=_PROMO_SHARE_SQL,
    survey_ids=("Q17", "Q21", "Q8"),
)
def sql_surface_promo_share(spark, sf_dir):
    """Promotion revenue share (TPC-H Q14 shape) through ``spark.sql``:
    one-month fact window joined to the part dimension, numerator
    (promo revenue) and denominator (all revenue) emitted as EXACT
    integer c4 units instead of the float percentage — the division
    happens at the consumer, so parity is bit-exact where a ratio
    would inherit engine rounding. The month filter prunes the fact
    scan; the part side joins on its key. Same text is the DuckDB
    oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PROMO_SHARE_SQL)


@_register(
    "x04_ewma_dyadic",
    oracle=f"""
    WITH {_daily_cents_sql(17)},
    votes AS (
        SELECT user_id, day + d.d AS day,
               cents * (CASE d.d WHEN 0 THEN 8 WHEN 1 THEN 4
                                 WHEN 2 THEN 2 ELSE 1 END) AS wv
        FROM daily
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) d
    )
    SELECT user_id, day, CAST(SUM(wv) AS BIGINT) AS ewm_cents
    FROM votes GROUP BY user_id, day
    """,
    survey_ids=("X4", "X7"),
)
def x04_ewma_dyadic(spark, sf_dir):
    """Exponentially weighted trailing sum with DYADIC decay (X4's
    recency-weighted feature shape — 'recent spend matters 2× more
    per day of age'): each sampled user's daily cents enter a trailing
    4-day window with weights 8/4/2/1 (2^(K-1-age)), so the weighted
    sum stays in EXACT integer arithmetic — powers of two make the
    decay bit-exact in any engine where a float alpha would drift.
    The naive authoring is a per-row lookback window; at 100 TB the
    winning shape is the VOTE trick (cf. x04_rolling_wau): each daily
    row fans out to the constant K=4 target days it influences, with
    its weight attached, and ONE grouped sum finishes — no window
    sort, no per-user state, fan-out bounded by the horizon, never by
    data. Output keyed by every day that receives influence, so gaps
    in a user's activity still decay correctly (absent days simply
    cast no vote)."""
    daily = _daily_cents(spark, sf_dir, 17)
    dw = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).cast("bigint").alias("d"),
                    F.lit(8 >> d).cast("bigint").alias("w"),
                )
                for d in range(4)
            ]
        )
    ).alias("dw")
    votes = daily.select("user_id", "day", "cents", dw).select(
        "user_id",
        (F.col("day") + F.col("dw.d")).alias("day"),
        (F.col("cents") * F.col("dw.w")).alias("wv"),
    )
    return votes.groupBy("user_id", "day").agg(
        F.sum("wv").cast("bigint").alias("ewm_cents")
    )


@_register(
    "mm_image_phash_pairs",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1200000 AS doc_id, text
        FROM documents WHERE doc_id % 50 = 0
    ),
    d AS (SELECT {_MM_DOC_COLS}
          FROM aug),
    px AS (SELECT doc_id, w * h * 3 AS n,
                  list_transform(range(0, w * h * 3),
                      j -> ('0x' || substr(hx, (j % L) * 2 + 1, 2))::BIGINT)
                    AS bytes
           FROM d),
    tot AS (SELECT doc_id, n, bytes,
                   CAST(list_sum(bytes) AS BIGINT) AS total
            FROM px),
    hs AS (SELECT doc_id,
                  CAST(COALESCE(list_sum(list_transform(
                      range(0, least(62, n)),
                      i -> CASE WHEN bytes[i + 1] * n > total
                                THEN CAST(1 AS BIGINT) << i
                                ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
                    AS ahash
           FROM tot)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ahash
    FROM hs a JOIN hs b ON a.ahash = b.ahash AND a.doc_id < b.doc_id
    """,
    survey_ids=("X14", "X11"),
)
def mm_image_phash_pairs(spark, sf_dir):
    """Multimodal near-duplicate detection by PERCEPTUAL HASH (the
    image half of X11's dedup story): every document's BMP payload is
    average-hashed (mean-threshold bits over the decoded pixel grid,
    integer-exact — operators/multimodal.py::ahash_bmp) and dup pairs
    emerge from an equi-join on the 8-byte hash — the scale shape
    that matters: pixels never shuffle, hashes do, and the join is a
    hash join on a 64-bit key, never an O(n²) image comparison.
    Planted fixtures (every 50th doc re-ingested under id+1,200,000 —
    an offset divisible by 12 so the derived geometry is identical)
    give the driver row a guaranteed non-empty dup set; the oracle
    re-derives every pixel byte from the cycled text fill and replays
    the same hash arithmetic, so any natural hash collisions match
    too. The aHash semantic (different images may share a bucket) is
    exactly what both sides compute."""
    from .operators.multimodal import ahash_batch, build_bmp_payload

    docs = _ld(spark, sf_dir, "documents").select("doc_id", "text")
    twins = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1200000))
    )
    aug = docs.unionByName(twins)
    hs = ahash_batch(build_bmp_payload(aug))
    a, b = hs.alias("a"), hs.alias("b")
    return a.join(
        b,
        (F.col("a.ahash") == F.col("b.ahash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.ahash").alias("ahash"),
    )


@_register(
    "s03_deletion_vectors",
    oracle=f"""
    {_KEPT_BALANCE_SQL}
    WHERE s_suppkey % 11 <> 0 AND s_nationkey <> 3
    GROUP BY 1
    """,
    survey_ids=("S3", "S1"),
)
def s03_deletion_vectors(spark, sf_dir):
    """MERGE-ON-READ delete round-trip (S3's other delete design
    point, vs s03_merge_delete's copy-on-write): the supplier table
    commits as snapshot 1, then TWO independent purges land as
    deletion-vector SIDECARS (every 11th suppkey; all of nation 3) —
    O(|delete set|) writes, zero data rewrite — and the merge-on-read
    scan (current snapshot anti-join the committed sidecar union,
    broadcast) must show exactly the survivors. A compaction then
    folds the vectors into snapshot 2, and the aggregate is taken
    from the COMPACTED snapshot — a green row proves the dv read
    path and the compaction agree with each other and with the
    oracle's direct predicate. Crashed-sidecar invisibility and
    dv-vs-copy-on-write equivalence are unit-tested in
    tests/test_merge_sink.py. Reentrant: per-invocation mkdtemp,
    literal result, table root deleted before returning.
    sources/sinks.py::delete_keys_dv/read_with_dv/compact_dv."""
    import shutil

    from .sources import sinks

    sup = _supplier_cents(spark, sf_dir)
    root = _scratch_dir("echem_dv_")
    try:
        table_root = f"{root}/tbl"
        sinks.merge_parquet(sup, table_root, ["s_suppkey"], "bal_cents")
        sinks.delete_keys_dv(
            sup.filter(F.col("s_suppkey") % 11 == 0),
            table_root,
            ["s_suppkey"],
        )
        sinks.delete_keys_dv(
            sup.filter(F.col("s_nationkey") == 3),
            table_root,
            ["s_suppkey"],
        )
        back = sinks.compact_dv(spark, table_root)
        result = _kept_balance(back)
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "x05_range_join_binned",
    oracle="""
    WITH pts AS (SELECT p_partkey, p_partkey % 997 AS v FROM part),
    itv AS (SELECT s_suppkey, s_nationkey,
                   s_suppkey % 997 AS lo,
                   s_suppkey % 997 + s_nationkey % 7 + 1 AS hi
            FROM supplier)
    SELECT s_nationkey, COUNT(*) AS n_pairs,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM itv JOIN pts ON v BETWEEN lo AND hi
    GROUP BY 1
    """,
    survey_ids=("X5",),
)
def x05_range_join_binned(spark, sf_dir):
    """LARGE×LARGE range join (X5's other regime, vs x05_range_join's
    broadcastable dim): when the interval side no longer fits in a
    broadcast, the theta-join's BroadcastNestedLoopJoin degenerates to
    |points|·|intervals| comparisons on every executor. The binned
    EQUI-join restores shuffle-join shape: points key by
    floor(v/width), intervals explode to every bin they overlap
    (replication ≈ width/bin + 1), the exact BETWEEN filters inside
    the bin, and a qualifying pair meets in EXACTLY one bin (the
    point's) so no dedup pass exists. Interval widths here are ≤ 7 so
    bin_width=8 keeps replication ≤ 2. The oracle is the plain
    theta-join — parity proves the binning is exact.
    operators/scale.py::binned_range_join (equivalence also
    unit-tested in tests/test_scale.py)."""
    from .operators.scale import binned_range_join

    pts = _ld(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_partkey") % 997).alias("v")
    )
    itv = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        (F.col("s_suppkey") % 997).alias("lo"),
        (
            F.col("s_suppkey") % 997 + F.col("s_nationkey") % 7 + 1
        ).alias("hi"),
    )
    joined = binned_range_join(pts, itv, "v", "lo", "hi", bin_width=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_pairs"),
        F.sum("v").cast("bigint").alias("sum_v"),
    )


@_register(
    "mm_audio_fingerprint_pairs",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1200000 AS doc_id, text
        FROM documents WHERE doc_id % 50 = 25
    ),
    d AS (SELECT doc_id,
                 hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS L
          FROM aug),
    f AS (SELECT doc_id, hx, (L // 2) // 8 AS nf FROM d),
    en AS (SELECT doc_id, nf,
                  list_transform(range(0, nf), k ->
                      list_sum(list_transform(range(0, 8), j ->
                          abs(CASE WHEN ('0x' || substr(hx,
                                       (k * 8 + j) * 4 + 3, 2))::BIGINT >= 128
                              THEN ('0x' || substr(hx, (k * 8 + j) * 4 + 1, 2))::BIGINT
                                 + 256 * ('0x' || substr(hx, (k * 8 + j) * 4 + 3, 2))::BIGINT
                                 - 65536
                              ELSE ('0x' || substr(hx, (k * 8 + j) * 4 + 1, 2))::BIGINT
                                 + 256 * ('0x' || substr(hx, (k * 8 + j) * 4 + 3, 2))::BIGINT
                              END)))) AS es
           FROM f WHERE nf >= 2),
    hs AS (SELECT doc_id,
                  CAST(COALESCE(list_sum(list_transform(
                      range(0, least(62, nf - 1)),
                      i -> CASE WHEN es[i + 2] > es[i + 1]
                                THEN CAST(1 AS BIGINT) << i
                                ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
                    AS afp
           FROM en)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.afp
    FROM hs a JOIN hs b ON a.afp = b.afp AND a.doc_id < b.doc_id
    """,
    survey_ids=("X14", "X11"),
)
def mm_audio_fingerprint_pairs(spark, sf_dir):
    """Audio near-duplicate detection by ENERGY-DELTA FINGERPRINT (the
    audio half of X11's multimodal dedup, next to
    mm_image_phash_pairs): every document's PCM WAV payload is
    fingerprinted (one bit per frame boundary, set when the next
    8-sample frame is louder — integer-exact, no FFT dependency) and
    dup pairs emerge from an equi-join on the 8-byte fingerprint;
    samples never shuffle. Planted fixtures (every 50th doc at offset
    25 re-ingested under id+1,200,000 — WAV geometry depends only on
    the text, so any twin offset preserves the signal) guarantee a
    non-empty dup set; the oracle re-derives every int16 sample from
    the UTF-8 bytes (little-endian pair, sign-folded at 2^15) and
    replays the same frame-energy arithmetic, so natural fingerprint
    collisions match too.
    operators/multimodal.py::audio_fingerprint."""
    from .operators.multimodal import (
        audio_fingerprint_batch,
        build_wav_payload,
    )

    docs = _ld(spark, sf_dir, "documents").select("doc_id", "text")
    twins = (
        docs.filter(F.col("doc_id") % 50 == 25)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1200000))
    )
    aug = docs.unionByName(twins)
    hs = audio_fingerprint_batch(build_wav_payload(aug))
    a, b = hs.alias("a"), hs.alias("b")
    return a.join(
        b,
        (F.col("a.afp") == F.col("b.afp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.afp").alias("afp"),
    )


#: Disjunctive bracket predicates across a join (TPC-H Q19 shape),
#: dialect-portable: same text runs in Spark and DuckDB. Revenue is
#: summed in integer cents (per-row ROUND before SUM) so cross-engine
#: float summation order cannot move the hash.
_DISJUNCT_REVENUE_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                 AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@_register(
    "sql_surface_disjunct_revenue",
    oracle=_DISJUNCT_REVENUE_SQL,
    survey_ids=("Q17", "Q21", "Q1"),
)
def sql_surface_disjunct_revenue(spark, sf_dir):
    """Disjunctive-bracket revenue report (TPC-H Q19 shape): three
    OR'd conjunction brackets spanning BOTH join sides. The optimizer
    test is predicate FACTORING: the common ``p_partkey = l_partkey``
    must stay a hash-join key (an OR across join inputs naively forces
    a nested loop), and the per-side residuals should split so each
    scan prunes locally — Catalyst extracts the brand/size brackets to
    the part scan and the quantity brackets to the lineitem scan
    before the join (CNF conversion of the disjunction's common
    factors), leaving the cross-side OR as a post-join residual. At
    100 TB the difference is a broadcast hash join over pruned scans
    vs a cartesian disaster. Revenue in integer cents keeps the
    value-hash engine-stable. Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_DISJUNCT_REVENUE_SQL)


#: Global-average threshold + anti-join (TPC-H Q22 shape),
#: dialect-portable. The AVG appears only in a comparison (never
#: emitted), so cross-engine float summation cannot change the row set
#: unless a balance sits within one ulp of the mean — impossible for
#: 2-decimal balances at this cardinality (same argument as
#: sql_correlated_subquery).
_GLOBAL_AVG_ANTI_SQL = """
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
           AS bal_cents
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_totalprice > 150000)
GROUP BY c_nationkey
"""


@_register(
    "sql_surface_global_avg_anti",
    oracle=_GLOBAL_AVG_ANTI_SQL,
    survey_ids=("X5", "Q21", "X6"),
)
def sql_surface_global_avg_anti(spark, sf_dir):
    """Dormant-high-value-customer report (TPC-H Q22 shape): an
    UNCORRELATED scalar subquery (global average balance — one row,
    broadcast to every comparison) gates the scan, and a correlated
    NOT EXISTS prunes customers who ever placed a large urgent order.
    Catalyst plans the scalar subquery as a one-row broadcast (no
    per-row re-execution) and rewrites NOT EXISTS into a LEFT ANTI
    hash join on ``o_custkey`` — the two subquery decorrelations a
    migrating SQL user relies on most. The EXISTS-side predicates
    (priority + price) push to the orders scan BEFORE the anti join,
    so at 100 TB the anti-join build side is the filtered sliver, not
    the orders table. Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GLOBAL_AVG_ANTI_SQL)


@_register(
    "x06_sketch_mergeable",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
    survey_ids=("X6", "Q21"),
)
def x06_sketch_mergeable(spark, sf_dir):
    """MERGEABLE distinct-count sketches (X6's scale path): per-bucket
    partial HLL sketches (Apache DataSketches via ``hll_sketch_agg``,
    lgK=12) are UNIONED per segment (``hll_union_agg``) and estimated
    — the two-level shape every 100 TB metrics pipeline uses (Druid/
    Pinot/BigQuery pattern: maintain a few-KB sketch per partition or
    per day at ingest, answer "distinct over any partition subset" at
    query time by merging sketches, never by re-scanning the fact
    table; approx_count_distinct alone cannot do this because its
    intermediate is not a storable column). The row count rides the
    same partial frame, proving partials compose for mixed aggregates.

    The oracle is the EXACT distinct count: at the tested
    cardinalities (≤25 distinct nations per segment) the DataSketches
    estimator is still in sparse/coupon mode, where the estimate IS
    the exact coupon count (verified sf0.001/0.01/0.1) — so parity
    proves the merge path bit-correct, not approximately right. At
    production cardinalities the same plan returns ~1.6% RSE
    estimates; that trade is the operator's documented contract.
    """
    c = _ld(spark, sf_dir, "customer")
    partial = c.groupBy(
        "c_mktsegment", (F.col("c_custkey") % 8).alias("bucket")
    ).agg(
        F.expr("hll_sketch_agg(c_nationkey, 12)").alias("sk"),
        F.count("*").alias("n"),
    )
    return partial.groupBy("c_mktsegment").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_nations"),
        F.sum("n").alias("n_customers"),
    )


#: Count-min geometry: 4 hash rows × 512 buckets. Seeds are spread by
#: a large prime because det_hash_i64 mixes the seed ADDITIVELY before
#: the multiply (seed j would make row j a shift of row 0); production
#: sketches use genuinely independent row hashes, the documented swap.
_CMS_D, _CMS_W, _CMS_SEED_STEP = 4, 512, 1_000_003


def _cms_sql() -> str:
    from .functions.hashing import duckdb_det_hash_i64

    jb_rows = " UNION ALL ".join(
        f"SELECT {j} AS j,"
        f" {duckdb_det_hash_i64('l_partkey', j * _CMS_SEED_STEP)}"
        f" % {_CMS_W} AS bucket FROM lineitem"
        for j in range(_CMS_D)
    )
    q_rows = " UNION ALL ".join(
        f"SELECT partkey, {j} AS j,"
        f" {duckdb_det_hash_i64('partkey', j * _CMS_SEED_STEP)}"
        f" % {_CMS_W} AS bucket FROM q"
        for j in range(_CMS_D)
    )
    return f"""
    WITH q AS (SELECT CAST(unnest(range(1, 41)) AS BIGINT) AS partkey),
    jb AS ({jb_rows}),
    sk AS (SELECT j, bucket, COUNT(*) AS n FROM jb GROUP BY j, bucket),
    qjb AS ({q_rows}),
    est AS (SELECT partkey, MIN(COALESCE(sk.n, 0)) AS est_count
            FROM qjb LEFT JOIN sk USING (j, bucket) GROUP BY partkey),
    ex AS (SELECT l_partkey AS partkey, COUNT(*) AS n FROM lineitem
           WHERE l_partkey BETWEEN 1 AND 40 GROUP BY l_partkey)
    SELECT q.partkey,
           CAST(est.est_count AS BIGINT) AS est_count,
           CAST(COALESCE(ex.n, 0) AS BIGINT) AS exact_count,
           CAST(est.est_count - COALESCE(ex.n, 0) AS BIGINT)
             AS overcount
    FROM q JOIN est USING (partkey) LEFT JOIN ex USING (partkey)
    """


@_register(
    "x06_countmin_est",
    oracle=_cms_sql(),
    survey_ids=("X6", "Q21"),
)
def x06_countmin_est(spark, sf_dir):
    """Count-min frequency sketch as RELATIONAL state — the frequency
    counterpart to x06_sketch_mergeable's distinct-count HLL: the
    sketch IS a (row, bucket, n) table built by one groupBy (map-side
    combinable, so partial sketches per partition/day merge by SUM —
    the mergeability that lets a 100 TB pipeline answer "how often
    does key k appear" from a few-KB artifact without re-scanning the
    fact table). Estimates for a fixed 40-key probe list come from an
    equi-join on (row, bucket) + MIN over rows; the exact counts ride
    along (pushed-down IN scan), so the driver rows carry the CMS
    guarantee est ≥ exact with the overcount visible per key. All
    arithmetic is the cross-engine split-multiply integer hash —
    bit-identical in the oracle, which replays sketch construction,
    probe, and guarantee verbatim."""
    li = _ld(spark, sf_dir, "lineitem")
    def cells(key: str):
        """One (row j, bucket) cell per sketch row for ``key``."""
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            det_hash_i64(F.col(key), j * _CMS_SEED_STEP) % _CMS_W
                        ).alias("bucket"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        )

    sketch = (
        li.select(cells("l_partkey").alias("p"))
        .select("p.j", "p.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = spark.range(1, 41).select(F.col("id").cast("bigint").alias("partkey"))
    qjb = q.select("partkey", cells("partkey").alias("p")).select(
        "partkey", "p.j", "p.bucket"
    )
    est = (
        qjb.join(sketch, ["j", "bucket"], "left")
        .groupBy("partkey")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_count"))
    )
    exact = (
        li.filter(F.col("l_partkey").between(1, 40))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        q.join(est, "partkey")
        .join(exact, "partkey", "left")
        .select(
            "partkey",
            F.col("est_count").cast("bigint").alias("est_count"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("bigint")
            .alias("exact_count"),
            (F.col("est_count") - F.coalesce(F.col("n_exact"), F.lit(0)))
            .cast("bigint")
            .alias("overcount"),
        )
    )


#: Correlated scalar-aggregate subquery (TPC-H Q17 shape),
#: dialect-portable: the per-part average is compared, never emitted.
#: Quantities are integral (stored as double), so SUM/AVG are exact in
#: IEEE double at any summation order and the strict ``<`` gate is
#: engine-stable; revenue emits in integer cents.
_SMALL_QTY_REVENUE_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
            AS BIGINT) AS small_qty_revenue_cents,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#2' AND p_size < 15
  AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


@_register(
    "sql_surface_small_qty_revenue",
    oracle=_SMALL_QTY_REVENUE_SQL,
    survey_ids=("Q17", "Q21", "X6"),
)
def sql_surface_small_qty_revenue(spark, sf_dir):
    """Small-quantity-order revenue (TPC-H Q17 shape): a CORRELATED
    scalar AGGREGATE subquery — each lineitem row compares its quantity
    against half the average quantity OF ITS OWN PART. The optimizer
    test is aggregate decorrelation: Catalyst must rewrite the per-row
    subquery into one grouped aggregate over lineitem (one row per
    partkey) joined back on the correlation key — executed ONCE, not
    per outer row (naively this is O(|lineitem|²)). At 100 TB the
    rewritten form is two scans + one shuffle on partkey; the naive
    form never finishes. Quantities are integral so the average is
    IEEE-exact at any summation order, making the strict ``<`` gate
    engine-stable (same argument as sql_correlated_subquery). Same
    text is the DuckDB oracle; the plan test pins the decorrelated
    aggregate + join shape."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SMALL_QTY_REVENUE_SQL)


#: Double-correlated EXISTS / NOT EXISTS self-joins (TPC-H Q21 shape),
#: dialect-portable. "Late" is shipdate > orderdate + 60 days (this
#: corpus carries no commit/receipt dates); the strict ``>`` on exact
#: timestamps is engine-stable (33 rows sit exactly ON the boundary at
#: sf0.01 and are excluded identically by both engines).
_WAITING_SUPPLIER_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders o ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


@_register(
    "sql_surface_waiting_supplier",
    oracle=_WAITING_SUPPLIER_SQL,
    survey_ids=("X5", "Q17", "Q21"),
)
def sql_surface_waiting_supplier(spark, sf_dir):
    """Suppliers-who-kept-orders-waiting (TPC-H Q21 shape — the
    benchmark's hardest decorrelation): a 4-table join where each
    surviving row must ALSO satisfy a correlated EXISTS (some OTHER
    supplier contributed to the same order — multi-supplier orders
    only) and a correlated NOT EXISTS (no OTHER supplier was late on
    it — the blame is exclusive). The NOT EXISTS correlates on TWO
    outer relations (l1's orderkey, o's orderdate), so Catalyst must
    rewrite both subqueries into LEFT SEMI and LEFT ANTI self-joins of
    lineitem on orderkey with the supplier-inequality and lateness
    residuals as join conditions — at 100 TB that is two shuffles on
    orderkey instead of per-row rescans of the fact table. Same text
    is the DuckDB oracle; the plan test pins one semi + one anti join
    and zero nested loops."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_WAITING_SUPPLIER_SQL)


@_register(
    "mm_scene_cuts",
    oracle=f"""
    WITH d AS (SELECT {_MM_DOC_COLS},
                      (doc_id % 4) + 2 AS nf
               FROM documents),
    f AS (SELECT doc_id, w, h, nf, hx, L,
                 unnest(range(0, nf)) AS fi
          FROM d),
    s AS (SELECT doc_id, CAST(fi AS INTEGER) AS frame_index, w * h AS plane,
                 CAST(list_sum(list_transform(range(0, w * h),
                      j -> ('0x' || substr(hx, ((fi * w * h + j) % L) * 2 + 1,
                                           2))::BIGINT)) AS BIGINT)
                     AS luma_sum
          FROM f),
    dlt AS (SELECT doc_id, frame_index, luma_sum, plane,
                   luma_sum - LAG(luma_sum) OVER (PARTITION BY doc_id
                                                  ORDER BY frame_index)
                       AS delta
            FROM s)
    SELECT doc_id, frame_index, luma_sum,
           CAST(ABS(delta) AS BIGINT) AS delta_abs
    FROM dlt
    WHERE delta IS NOT NULL AND ABS(delta) >= 5 * plane
    """,
    survey_ids=("X14", "X4"),
)
def mm_scene_cuts(spark, sf_dir):
    """Shot-boundary (scene-cut) detection over real Y4M video bytes:
    decode EVERY frame's full luma plane in an Arrow-batched
    ``mapInPandas``, then flag frames whose mean-luma jump from the
    previous frame is ≥ 5 gray levels via a per-video ``lag`` window —
    the luma-difference detector that fronts video training-data
    curation (segment on cuts, then sample/caption per shot). The
    composition is the point: decoded per-frame features flow straight
    into a window function, and the shuffle carries only the narrow
    feature rows, never pixels. The oracle re-derives every full-plane
    luma sum from first principles (hex byte extraction over the
    contiguously-cycled text bytes) and replays the lag + threshold in
    SQL. operators/multimodal.py::y4m_scene_cuts."""
    from .operators.multimodal import build_y4m_payload, y4m_scene_cuts

    docs = _ld(spark, sf_dir, "documents")
    return y4m_scene_cuts(build_y4m_payload(docs), min_mean_delta=5)


@_register(
    "t13_keyword_extract",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCKDB_TOKENS.format(col='text')} AS toks
               FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, token),
    idf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY token),
    r AS (SELECT tf.doc_id, tf.token, tf.tf, idf.df,
                 CAST(ROW_NUMBER() OVER (
                      PARTITION BY tf.doc_id
                      ORDER BY tf.tf DESC, idf.df ASC, tf.token ASC)
                   AS INTEGER) AS rnk
          FROM tf JOIN idf USING (token))
    SELECT doc_id, token, tf, df, rnk FROM r WHERE rnk <= 3
    """,
    survey_ids=("X13", "X1"),
)
def t13_keyword_extract(spark, sf_dir):
    """Per-document keyword extraction: top-3 tokens ranked by
    (term frequency DESC, global document frequency ASC, token ASC) —
    the integer-exact core of TF-IDF ranking (monotone in tf and in
    1/df) with zero float arithmetic, so the keyword set is
    engine-stable by construction instead of by ulp argument. Plan
    shape: one explode → per-(doc, token) hash agg (map-side combine)
    → vocabulary-sized df agg → shuffled equi-join on token → per-doc
    top-k window. At 100 TB both aggregates are partial-combinable,
    the join key is the token (uniform unless the vocabulary is
    Zipf-skewed — exactly what the df side measures, feeding the
    salting helper if needed), and the window partitions by doc_id —
    no global sort anywhere."""
    from pyspark.sql.window import Window

    from .functions.text import tokens

    docs = _ld(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(df_, "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "rnk")
    )


@_register(
    "x04_hampel_outliers",
    oracle="""
    WITH e AS (SELECT event_id, user_id, ts,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    w AS (SELECT event_id, user_id, cents,
                 list_sort(list(cents) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS win
          FROM e),
    m AS (SELECT event_id, user_id, cents,
                 win[3] AS med,
                 list_sort(list_transform(win, x -> abs(x - win[3])))[3]
                     AS mad
          FROM w WHERE len(win) = 5)
    SELECT event_id, user_id, cents, med, mad
    FROM m WHERE ABS(cents - med) > 3 * mad
    """,
    survey_ids=("X4", "X6"),
)
def x04_hampel_outliers(spark, sf_dir):
    """Hampel outlier filter (X4 robust-analytics axis): flag events
    whose value deviates from the CENTERED rolling median of their
    user's 5-event window by more than 3 rolling MADs — the robust
    time-series despiking filter (median/MAD shrug off the very
    outliers that poison mean/stddev control charts). Exactness is the
    point: the window is 5 rows, so median and MAD are rank selections
    on a sorted 5-array in integer cents — no percentile
    approximation, no float accumulation, engine-stable by
    construction. Plan shape: one shuffle on user_id, then per-row
    O(w log w) array work inside the window projection; at 100 TB the
    state per task is 5 bigints per in-flight row — the same
    bounded-frame discipline as x04_rolling_range."""
    from pyspark.sql.window import Window

    e = _ld(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return (
        e.withColumn(
            "win", F.sort_array(F.collect_list("cents").over(w))
        )
        .filter(F.size("win") == 5)
        .withColumn("med", F.element_at("win", 3))
        .withColumn(
            "mad",
            F.element_at(
                F.sort_array(
                    F.transform(
                        F.col("win"), lambda x: F.abs(x - F.col("med"))
                    )
                ),
                3,
            ),
        )
        .filter(F.abs(F.col("cents") - F.col("med")) > 3 * F.col("mad"))
        .select("event_id", "user_id", "cents", "med", "mad")
    )


@_register(
    "s05_chart_sink",
    oracle="""
    WITH m AS (SELECT n_name, date_trunc('month', o_orderdate) AS ym,
                      COUNT(*) AS cnt
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               GROUP BY n_name, ym),
    v AS (SELECT n_name, cnt,
                 MAX(cnt) OVER (PARTITION BY n_name) AS vmax,
                 COUNT(*) OVER (PARTITION BY n_name) AS n_bars
          FROM m)
    SELECT n_name,
           CAST(n_bars AS INTEGER) AS n_bars,
           CAST(n_bars * 4 AS INTEGER) AS width,
           CAST(32 AS INTEGER) AS height,
           CAST(3 * SUM((cnt * 31) // vmax + 1) AS BIGINT) AS ink_px
    FROM v GROUP BY n_name, n_bars
    """,
    survey_ids=("S5", "S1", "X14"),
)
def s05_chart_sink(spark, sf_dir):
    """Image SINK end-to-end (the reference's S5 behavior — per-entity
    plot files, my_dag.py:173-183 — re-expressed engine-shaped): one
    monthly-order-volume bar chart PER NATION is RENDERED on the
    executors (grouped applyInPandas → from-scratch 8-bit RGB PNG,
    operators/plotting.py), WRITTEN through a partitioned parquet sink
    as an ordinary binary column, READ BACK, and DECODED — the result
    row's width/height/ink-pixel count comes from pixels reconstructed
    out of the written file, never from the renderer's bookkeeping.
    The rasterizer is integer-exact (bar height = (v*(H-1))//vmax + 1,
    BAR_W=3 ink columns per bar), so the DuckDB oracle replays the
    whole chart's ink budget from the orders table with integer
    arithmetic: a green row proves render → encode → sink → scan →
    decode bit-level correct. At 100 TB the render stage is
    embarrassingly parallel and pixels never enter a shuffle (the
    grouped exchange carries only (nation, month, count) rows).
    Reentrant via the s01 scratch-dir pattern."""
    import shutil

    import pandas as pd

    from .operators.plotting import encode_png_rgb, png_ink_stats, render_bar_chart

    orders = _ld(spark, sf_dir, "orders")
    customer = _ld(spark, sf_dir, "customer")
    nation = _ld(spark, sf_dir, "nation")
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("ym"))
        .agg(F.count("*").alias("cnt"))
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ym")
        w, h, pixels = render_bar_chart([int(c) for c in pdf["cnt"]])
        return pd.DataFrame(
            {
                "n_name": [pdf["n_name"].iloc[0]],
                "n_bars": [len(pdf)],
                "png": [encode_png_rgb(w, h, pixels)],
            }
        )

    charts = monthly.groupBy("n_name").applyInPandas(
        render, "n_name string, n_bars int, png binary"
    )
    out = _scratch_dir("echem_chart_sink_")
    try:
        charts.write.mode("overwrite").parquet(out)
        back = spark.read.parquet(out)

        def decode(batches):
            for pdf in batches:
                rows = {
                    "n_name": [],
                    "n_bars": [],
                    "width": [],
                    "height": [],
                    "ink_px": [],
                }
                for name, nb, png in zip(
                    pdf["n_name"], pdf["n_bars"], pdf["png"]
                ):
                    st = png_ink_stats(bytes(png))
                    if st is None:
                        continue
                    rows["n_name"].append(name)
                    rows["n_bars"].append(nb)
                    rows["width"].append(st["width"])
                    rows["height"].append(st["height"])
                    rows["ink_px"].append(st["ink_px"])
                yield pd.DataFrame(rows)

        decoded = back.mapInPandas(
            decode,
            "n_name string, n_bars int, width int, height int, ink_px bigint",
        )
        return _literal_result(spark, decoded)
    finally:
        shutil.rmtree(out, ignore_errors=True)


#: Scalar MAX over a reused aggregated view (TPC-H Q15 shape),
#: dialect-portable. Revenue is in integer cents, so the MAX-equality
#: gate is exact and ties (if any) surface identically in both
#: engines.
_TOP_SUPPLIER_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS total_revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue_cents
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
"""


@_register(
    "sql_surface_top_supplier",
    oracle=_TOP_SUPPLIER_SQL,
    survey_ids=("Q17", "Q21", "X1"),
)
def sql_surface_top_supplier(spark, sf_dir):
    """Top-revenue supplier (TPC-H Q15 shape): a quarterly revenue
    aggregate is consumed TWICE from one CTE — once as the join input
    and once inside a scalar MAX subquery gating it. The optimizer
    contract pinned by the plan test: the scalar gate executes as a
    ONE-SHOT subquery (a single global max over the grouped
    aggregate), never a per-row re-aggregation, and the quarter
    window pushes to every lineitem scan. Catalyst 4.1 inlines the
    CTE into both consumers rather than reusing one exchange — both
    instances scan WITH the pushed date filter, so the cost is two
    pruned scans, not a correctness or blow-up risk (CTE
    materialization is the engine's own trade to revisit, not this
    query's). Revenue is integer cents so the MAX-equality is
    tie-exact; the same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TOP_SUPPLIER_SQL)


@_register(
    "x05_spatial_near_join",
    oracle="""
    WITH p AS (SELECT event_id AS pid,
        (('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':x'), 1, 12))
            ::BIGINT) % 100000 AS x,
        (('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':y'), 1, 12))
            ::BIGINT) % 100000 AS y
      FROM events),
    b AS (SELECT pid AS id_b, x AS xb, y AS yb,
                 x // 250 AS cx, y // 250 AS cy FROM p),
    pr AS (SELECT pid AS id_a, x AS xa, y AS ya,
                  x // 250 + dx.d AS cx, y // 250 + dy.d AS cy
           FROM p, (VALUES (-1), (0), (1)) dx(d),
                   (VALUES (-1), (0), (1)) dy(d))
    SELECT id_a, id_b,
           CAST((xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) AS BIGINT) AS dist_sq
    FROM pr JOIN b USING (cx, cy)
    WHERE id_a < id_b
      AND (xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) <= 62500
    """,
    survey_ids=("X5", "X12"),
)
def x05_spatial_near_join(spark, sf_dir):
    """Spatial near-pair join (X5's planar θ-join axis): all event
    pairs within Euclidean distance 250 on a 100k×100k integer grid —
    points-of-interest dedup / contact-tracing shape — WITHOUT a
    cross join: grid blocking snaps each point to a 250-px cell, each
    point probes its 3×3 cell neighborhood (constant 9× fan-out), and
    candidates meet on a plain shuffled equi-join over the cell key;
    the exact bigint distance check keeps true pairs. Exactly one
    probe offset matches per pair, so the join emits no duplicate
    candidates — no distinct pass anywhere. Coordinates derive from
    the md5-based det_hash_str convention so every x/y (and therefore
    every pair) is replayable in SQL; the oracle replicates the SAME
    blocking, which is provably exact (any pair within r sits in
    adjacent cells when cell >= r). At 100 TB the shuffle carries
    (id, x, y, cell) only, per-cell work tracks local density, and a
    hot cell is the standard AQE skew-join split case.
    operators/spatial.py::grid_near_join."""
    from .functions.hashing import det_hash_str
    from .operators.spatial import grid_near_join

    e = _ld(spark, sf_dir, "events").select("event_id")
    pts = e.select(
        F.col("event_id").alias("pid"),
        (
            det_hash_str(
                F.concat(F.col("event_id").cast("string"), F.lit(":x"))
            )
            % 100000
        ).alias("x"),
        (
            det_hash_str(
                F.concat(F.col("event_id").cast("string"), F.lit(":y"))
            )
            % 100000
        ).alias("y"),
    )
    # pts feeds both the probe and build sides — checkpoint so the md5
    # coordinate derivation runs once (same trim as x05_contact_pairs)
    return grid_near_join(
        pts.localCheckpoint(eager=True), "pid", "x", "y", radius=250
    )


@_register(
    "x05_contact_pairs",
    oracle="""
    WITH p0 AS (SELECT event_id AS pid,
        (('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':x'), 1, 12))
            ::BIGINT) % 100000 AS x,
        (('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':y'), 1, 12))
            ::BIGINT) % 100000 AS y,
        CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
      FROM events),
    p AS (SELECT * FROM p0
          UNION ALL
          SELECT pid + 1000000000, x + 300, y + 400, t + 30
          FROM p0 WHERE pid % 50 = 0),
    b AS (SELECT pid AS id_b, x AS xb, y AS yb, t AS tb,
                 x // 5000 AS cx, y // 5000 AS cy, t // 600 AS ct FROM p),
    pr AS (SELECT pid AS id_a, x AS xa, y AS ya, t AS ta,
                  x // 5000 + dx.d AS cx, y // 5000 + dy.d AS cy,
                  t // 600 + dt.d AS ct
           FROM p, (VALUES (-1), (0), (1)) dx(d),
                   (VALUES (-1), (0), (1)) dy(d),
                   (VALUES (-1), (0), (1)) dt(d))
    SELECT id_a, id_b,
           CAST((xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) AS BIGINT) AS dist_sq,
           CAST(ABS(ta - tb) AS BIGINT) AS dt
    FROM pr JOIN b USING (cx, cy, ct)
    WHERE id_a < id_b
      AND (xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) <= 25000000
      AND ABS(ta - tb) <= 600
    """,
    survey_ids=("X5", "X7"),
)
def x05_contact_pairs(spark, sf_dir):
    """Spatio-temporal contact pairs (X5 + X7 composed): event pairs
    within 5000 grid units AND 10 minutes of each other — the
    contact-tracing / sensor-cross-matching shape. Time becomes a
    third blocking axis on top of the spatial grid: the equi-join key
    is (x-cell, y-cell, t-bucket) with a constant 27× probe stencil,
    so a year of data never joins beyond adjacent 10-minute buckets —
    the property that keeps this bounded at 100 TB no matter how the
    spatial extent grows. Timestamps convert by the engine's
    unix_timestamp ↔ FLOOR(epoch()) convention (x09 precedent); all
    filters are bigint-exact. Every 50th event gets a planted twin
    (+300, +400, +30 s — distance 500, guaranteed in-contact),
    identically in the oracle, so the pair path is non-empty at EVERY
    scale (the natural corpus is contact-sparse below sf0.01); the
    blocked result was also validated equal to the naive quadratic
    join on the natural corpus. The oracle replicates the exact same
    3-axis blocking (provably lossless: any qualifying pair differs
    by ≤1 cell on every axis). operators/spatial.py::grid_contact_join."""
    from .functions.hashing import det_hash_str
    from .operators.spatial import grid_contact_join
    from .sources import load_table

    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    base = e.select(
        F.col("event_id").alias("pid"),
        (
            det_hash_str(
                F.concat(F.col("event_id").cast("string"), F.lit(":x"))
            )
            % 100000
        ).alias("x"),
        (
            det_hash_str(
                F.concat(F.col("event_id").cast("string"), F.lit(":y"))
            )
            % 100000
        ).alias("y"),
        F.unix_timestamp("ts").alias("t"),
    )
    # base feeds FOUR consumers (twins + the join's probe and build
    # sides, each via the union) — checkpoint so the md5 coordinate
    # derivation runs once, not four times (6.5 s → 4.6 s at sf0.1)
    base = base.localCheckpoint(eager=True)
    twins = base.filter(F.col("pid") % 50 == 0).select(
        (F.col("pid") + 1000000000).alias("pid"),
        (F.col("x") + 300).alias("x"),
        (F.col("y") + 400).alias("y"),
        (F.col("t") + 30).alias("t"),
    )
    pts = base.unionByName(twins)
    return grid_contact_join(
        pts, "pid", "x", "y", "t", radius=5000, t_radius=600
    )

@_register(
    "x04_cusum_drift",
    oracle="""
    WITH e0 AS (SELECT event_id AS pid, user_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
                FROM events),
    e AS (SELECT * FROM e0
          UNION ALL
          SELECT 1000000000 + pid * 4 + i.i, user_id, t + i.i + 1, 20000
          FROM e0, (VALUES (0), (1), (2)) i(i)
          WHERE pid % 500 = 0),
    p AS (SELECT pid, user_id, t, cents,
                 SUM(cents - 8000) OVER (PARTITION BY user_id
                                         ORDER BY t, pid
                                         ROWS UNBOUNDED PRECEDING) AS pref
          FROM e),
    m AS (SELECT pid, user_id, cents, pref,
                 MIN(pref) OVER (PARTITION BY user_id ORDER BY t, pid
                                 ROWS UNBOUNDED PRECEDING) AS run_min
          FROM p),
    c AS (SELECT pid, user_id, cents,
                 pref - LEAST(0, run_min) AS cusum FROM m)
    SELECT pid AS event_id, user_id, cents, CAST(cusum AS BIGINT) AS cusum
    FROM c WHERE cusum > 30000
    """,
    survey_ids=("X4", "X6"),
)
def x04_cusum_drift(spark, sf_dir):
    """CUSUM drift/burst detection (X4's sequential-analysis axis):
    flag events where the per-user one-sided cumulative sum
    S_i = max(0, S_{i-1} + cents_i - k) exceeds h (k=8000, h=30000) —
    the classic control-chart detector for sustained upward drift
    that point thresholds miss. The recursion is NOT window-expressible
    directly, but the reflection identity
    ``S_i = P_i - min(0, min_{j<=i} P_j)`` (P = running sum of the
    drift-adjusted deltas) turns it into two stock running windows —
    running sum, then running min — all in exact integer cents, which
    is what makes it BOTH scale-sane (two per-user window passes, no
    UDF, no iteration) and engine-stable (the identity was validated
    against the direct Python recursion on the full corpus). Every
    500th event plants a 3-event 200.00-value burst (identically in
    the oracle) so the alarm path is non-empty at every scale.
    Ordering is total via (epoch, event_id)."""
    from pyspark.sql.window import Window

    from .sources import load_table

    e0 = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    burst = (
        e0.filter(F.col("pid") % 500 == 0)
        .select(
            "pid", "user_id", "t", F.explode(F.expr("sequence(0, 2)")).alias("i")
        )
        .select(
            (F.lit(1000000000) + F.col("pid") * 4 + F.col("i")).alias("pid"),
            "user_id",
            (F.col("t") + F.col("i") + 1).alias("t"),
            F.lit(20000).cast("bigint").alias("cents"),
        )
    )
    e = e0.unionByName(burst)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = e.withColumn("pref", F.sum(F.col("cents") - 8000).over(w))
    c = p.withColumn("run_min", F.min("pref").over(w)).withColumn(
        "cusum", F.col("pref") - F.least(F.lit(0), F.col("run_min"))
    )
    return c.filter(F.col("cusum") > 30000).select(
        F.col("pid").alias("event_id"),
        "user_id",
        "cents",
        F.col("cusum").cast("bigint").alias("cusum"),
    )


#: Weekdays in [0, d) for epoch-day d, Monday-aligned closed form —
#: pure integer arithmetic, identical in Spark and DuckDB (validated
#: against a calendar loop over ±20k days; hypothesis-tested).
_WDAYS_SPARK = "(5 * CAST(floor(({d} + 3) / 7) AS BIGINT) + least(pmod({d} + 3, 7), 5) - 3)"
_WDAYS_DUCK = "(5 * (({d} + 3) // 7) + LEAST((({d} + 3) % 7 + 7) % 7, 5) - 3)"
#: Per-priority ship-lag summary over ``b`` (o_orderpriority, bdays) —
#: the same text in the Spark SQL and its DuckDB oracle.
_BDAYS_SUMMARY_SQL = """SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(bdays) AS BIGINT) AS total_bdays,
           CAST(MAX(bdays) AS BIGINT) AS max_bdays,
           CAST(SUM(CASE WHEN bdays > 60 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_slow
    FROM b GROUP BY o_orderpriority"""


@_register(
    "x07_business_days",
    oracle=f"""
    WITH l AS (SELECT o_orderpriority,
                      CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400
                          AS d0,
                      CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400
                          AS d1
               FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
    b AS (SELECT o_orderpriority,
                 {_WDAYS_DUCK.format(d='d1')}
                   - {_WDAYS_DUCK.format(d='d0')} AS bdays
          FROM l)
    {_BDAYS_SUMMARY_SQL}
    """,
    survey_ids=("X7", "Q21"),
)
def x07_business_days(spark, sf_dir):
    """Business-day (weekday) ship-lag accounting per order priority
    (X7's calendar-arithmetic axis): the number of WEEKDAYS between
    order date and ship date — the metric every SLA report needs and
    naive date subtraction gets wrong. No calendar UDF, no generated
    date spine: the count of weekdays in [0, d) has a Monday-aligned
    closed form ``5*((d+3)//7) + min((d+3)%7, 5) - 3`` in epoch days,
    so the lag is a difference of two integer expressions — exact,
    engine-stable, whole-stage-codegen'd, and O(0) extra state at any
    scale (compare: the date-spine join approach shuffles |orders| ×
    avg-lag rows). Validated against a calendar loop over ±20k days
    and hypothesis-tested. Aggregated per priority with a slow-order
    (>60 business days) count."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH l AS (SELECT o_orderpriority,
                          CAST(floor(unix_timestamp(o_orderdate) / 86400)
                               AS BIGINT) AS d0,
                          CAST(floor(unix_timestamp(l_shipdate) / 86400)
                               AS BIGINT) AS d1
                   FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        b AS (SELECT o_orderpriority,
                     {_WDAYS_SPARK.format(d='d1')}
                       - {_WDAYS_SPARK.format(d='d0')} AS bdays
              FROM l)
        {_BDAYS_SUMMARY_SQL}
        """
    )


@_register(
    "s02_fixed_width",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_sup,
           CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents,
           CAST(SUM(LENGTH(s_name)) AS BIGINT) AS name_chars
    FROM supplier GROUP BY s_nationkey
    """,
    survey_ids=("S2", "Q9"),
)
def s02_fixed_width(spark, sf_dir):
    """Fixed-width text round-trip (S2's mainframe-interchange lane —
    COBOL copybook / FTP-drop files have no delimiters, only column
    positions): suppliers are SERIALIZED to a real fixed-width layout
    (suppkey 10, name 25 space-padded, nationkey 4, balance 12 as
    offset-shifted cents so negatives stay digit-only), written
    through the text sink, READ BACK as raw lines, and PARSED by
    column position (substring + trim + cast — all codegen'd JVM
    expressions, the production shape for multi-TB fixed-width drops:
    one narrow scan, no Python, no regex). The grouped result is
    assembled ONLY from the parsed read-back, and the oracle
    recomputes it from the supplier view — a green row proves
    serialize → sink → scan → positional-parse end-to-end, including
    sign handling and pad/trim inverses. Reentrant via the s01
    scratch-dir pattern."""
    import shutil

    sup = _ld(spark, sf_dir, "supplier")
    # offset keeps the cents field unsigned so lpad-with-zeros parses
    off = 1000000000
    lines = sup.select(
        F.concat(
            F.lpad(F.col("s_suppkey").cast("string"), 10, "0"),
            F.rpad(F.col("s_name"), 25, " "),
            F.lpad(F.col("s_nationkey").cast("string"), 4, "0"),
            F.lpad(
                (
                    F.round(F.col("s_acctbal") * 100, 0).cast("bigint")
                    + F.lit(off)
                ).cast("string"),
                12,
                "0",
            ),
        ).alias("value")
    )
    out = _scratch_dir("echem_fixed_width_")
    try:
        lines.write.mode("overwrite").text(out)
        raw = spark.read.text(out)
        parsed = raw.select(
            F.substring("value", 1, 10).cast("int").alias("s_suppkey"),
            F.rtrim(F.substring("value", 11, 25)).alias("s_name"),
            F.substring("value", 36, 4).cast("int").alias("s_nationkey"),
            (
                F.substring("value", 40, 12).cast("bigint") - F.lit(off)
            ).alias("cents"),
        )
        result = parsed.groupBy("s_nationkey").agg(
            F.count("*").cast("bigint").alias("n_sup"),
            F.sum("cents").cast("bigint").alias("bal_cents"),
            F.sum(F.length("s_name")).cast("bigint").alias("name_chars"),
        )
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@_register(
    "x10_stream_cusum",
    oracle="""
    WITH e AS (SELECT event_id AS pid, user_id,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    p AS (SELECT pid, user_id, t, cents,
                 SUM(cents - 8000) OVER (PARTITION BY user_id
                                         ORDER BY t, pid
                                         ROWS UNBOUNDED PRECEDING) AS pref
          FROM e),
    m AS (SELECT pid, user_id, t, cents, pref,
                 MIN(pref) OVER (PARTITION BY user_id ORDER BY t, pid
                                 ROWS UNBOUNDED PRECEDING) AS run_min
          FROM p),
    c AS (SELECT pid, user_id, t,
                 pref - LEAST(0, run_min) AS cusum,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY t DESC, pid DESC) AS rn
          FROM m),
    agg AS (SELECT user_id,
                   CAST(SUM(CASE WHEN cusum > 30000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_alarms,
                   CAST(MAX(cusum) AS BIGINT) AS max_cusum,
                   CAST(MAX(CASE WHEN rn = 1 THEN cusum END) AS BIGINT)
                       AS cusum_final
            FROM c GROUP BY user_id)
    SELECT user_id, n_alarms, max_cusum, cusum_final
    FROM agg WHERE n_alarms > 0
    """,
    survey_ids=("X10", "X4"),
)
def x10_stream_cusum(spark, sf_dir):
    """Streaming CUSUM control chart (X10 × X4 — the streaming twin of
    x04_cusum_drift, and the shape that HAS to be streaming-stateful
    in production: the accumulator has no bounded window, so windowed
    aggregation cannot express it and batch recomputation over an
    unbounded log is exactly what the 3-integer per-user state
    avoids). applyInPandasWithState carries (sum, alarm count,
    high-water mark) across micro-batches; the fold is batch-split
    invariant given in-order per-key arrival (the keyed-log contract;
    property-pinned in tests), so bounded replay's final emission per
    user equals the batch reflection-identity computation — which is
    the oracle, alarm counts, high-water mark and final value all
    value-checked. streaming/stateful.py::user_cusum_alarms."""
    from pyspark.sql.window import Window as W

    from .streaming.stateful import user_cusum_alarms
    from .streaming.windows import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.col("event_id").alias("pid"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    out = run_to_memory(user_cusum_alarms(ev), spark, mode="update")
    w = W.partitionBy("user_id").orderBy(F.col("version").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("n_alarms") > 0))
        .select(
            "user_id",
            "n_alarms",
            "max_cusum",
            F.col("cusum").alias("cusum_final"),
        )
    )


#: Correlated MIN subquery + dimension join (TPC-H Q2 shape),
#: dialect-portable. Prices in integer cents, so the MIN-equality
#: gate is exact and ties surface identically in both engines.
_MIN_COST_SUPPLIER_SQL = """
WITH pl AS (
    SELECT l_partkey, l_suppkey,
           CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01')
SELECT p.l_partkey AS p_partkey, s_suppkey, s_name, p.price_cents
FROM pl p JOIN supplier ON s_suppkey = p.l_suppkey
WHERE p.price_cents = (SELECT MIN(p2.price_cents) FROM pl p2
                       WHERE p2.l_partkey = p.l_partkey)
"""


@_register(
    "sql_surface_min_cost_supplier",
    oracle=_MIN_COST_SUPPLIER_SQL,
    survey_ids=("Q17", "X5"),
)
def sql_surface_min_cost_supplier(spark, sf_dir):
    """Cheapest-offer supplier per part (TPC-H Q2 shape, reshaped onto
    the lineitem fact since this corpus has no partsupp): a correlated
    MIN subquery gates each offer row against its part's minimum 1995
    price, then joins the surviving rows to the supplier dimension.
    Catalyst decorrelates the per-row MIN into one grouped aggregate +
    equi-join on l_partkey (same DecorrelateInnerQuery contract as
    sql_surface_small_qty_revenue / TPC-H Q17) — no per-row
    re-aggregation survives in the plan. Prices are integer cents so
    min-equality ties are exact and ALL tying rows are kept (a
    deterministic set, no arbitrary pick). Same text is the DuckDB
    oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_MIN_COST_SUPPLIER_SQL)


#: Group share vs a global-total scalar subquery (TPC-H Q11 shape),
#: dialect-portable. The 5% threshold is applied as an integer
#: cross-multiply (cents * 20 > total), never a float division.
_VALUE_SHARE_SQL = """
WITH rev AS (
    SELECT s_nationkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey)
SELECT n_name, cents AS revenue_cents
FROM rev JOIN nation ON n_nationkey = s_nationkey
WHERE cents * 20 > (SELECT CAST(SUM(cents) AS BIGINT) FROM rev)
"""


@_register(
    "sql_surface_value_share",
    oracle=_VALUE_SHARE_SQL,
    survey_ids=("Q21", "X5", "X6"),
)
def sql_surface_value_share(spark, sf_dir):
    """Nations holding more than 5% of global supplier revenue
    (TPC-H Q11 shape): one grouped aggregate consumed twice — as the
    report rows and inside a global-total scalar subquery that gates
    them. The threshold is an integer cross-multiply (cents * 20 >
    total_cents), so no float division exists to diverge between
    engines; the scalar executes as a ONE-SHOT subquery over the
    grouped frame, not per row. DuckDB's integer SUM widens to
    HUGEINT, which only feeds the comparison — the emitted
    revenue_cents stays the grouped BIGINT (the outer-cast
    discipline of test_oracle_dtypes). Same text is the oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_VALUE_SHARE_SQL)


#: Outer-join count distribution (TPC-H Q13 shape), dialect-portable.
_ORDER_COUNT_DIST_SQL = """
WITH c_orders AS (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count
"""


@_register(
    "sql_surface_order_count_dist",
    oracle=_ORDER_COUNT_DIST_SQL,
    survey_ids=("X5", "X6"),
)
def sql_surface_order_count_dist(spark, sf_dir):
    """Customer distribution by non-urgent order count (TPC-H Q13
    shape): a LEFT OUTER join whose extra ON predicate must filter the
    RIGHT side only — customers with zero qualifying orders survive
    with c_count = 0 (COUNT of the null-extended key), which is the
    semantics a WHERE clause would silently destroy — then a second
    aggregation over the first's result (histogram of counts). The
    two-level aggregate is the classic skew surface: the first
    groupBy keys on c_custkey (uniform), the second on c_count (tiny
    domain), and AQE coalesces the second exchange. Same text is the
    DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ORDER_COUNT_DIST_SQL)


#: COUNT(DISTINCT) + NOT IN anti-join (TPC-H Q16 shape),
#: dialect-portable.
_SUPPLIER_VARIETY_SQL = """
SELECT p_brand, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


@_register(
    "sql_surface_supplier_variety",
    oracle=_SUPPLIER_VARIETY_SQL,
    survey_ids=("X5", "X6"),
)
def sql_surface_supplier_variety(spark, sf_dir):
    """Distinct-supplier variety per (brand, size) excluding
    blacklisted suppliers (TPC-H Q16 shape): a NOT IN subquery over a
    non-null key column (planned as a null-aware anti-join — the
    subquery side is provably null-free here, so it degenerates to a
    plain broadcast anti-join, not the quadratic null-aware fallback)
    feeding a COUNT(DISTINCT) grouped on low-cardinality dimension
    attributes. The distinct expands to a two-phase aggregate
    (partial distinct on (brand, size, suppkey), then count) — the
    shape that survives skew at 100 TB because the first phase
    combines map-side. Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SUPPLIER_VARIETY_SQL)


#: Semi-join chain + correlated half-sum threshold (TPC-H Q20 shape),
#: dialect-portable. Quantities are integral by construction (pinned
#: by the data peek: zero non-integral l_quantity), so the half-total
#: gate is an exact bigint cross-multiply.
_DOMINANT_SUPPLIER_SQL = """
WITH sq AS (
    SELECT l_partkey, l_suppkey,
           CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT)
             AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_name LIKE 'small%')
    GROUP BY l_partkey, l_suppkey)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT q.l_suppkey FROM sq q
    WHERE q.qty * 2 > (SELECT CAST(SUM(q2.qty) AS BIGINT) FROM sq q2
                       WHERE q2.l_partkey = q.l_partkey))
"""


@_register(
    "sql_surface_dominant_supplier",
    oracle=_DOMINANT_SUPPLIER_SQL,
    survey_ids=("Q21", "X5"),
)
def sql_surface_dominant_supplier(spark, sf_dir):
    """Suppliers that shipped more than half of some small-part's
    1995 volume (TPC-H Q20 shape): a two-deep subquery chain — an IN
    semi-join over parts, a grouped quantity CTE, a CORRELATED
    half-total threshold (decorrelated by Catalyst into a grouped
    total + equi-join on l_partkey), and a final IN semi-join into
    the supplier dimension. Every quantity is integral (the corpus
    ships whole units), so the half gate is the exact cross-multiply
    qty * 2 > total — no float division to diverge. The outer IN
    deduplicates: a supplier dominating several parts appears once.
    Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_DOMINANT_SUPPLIER_SQL)


#: EXISTS semi-join + priority count (TPC-H Q4 shape),
#: dialect-portable.
_PRIORITY_BACKLOG_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderpriority
"""


@_register(
    "sql_surface_priority_backlog",
    oracle=_PRIORITY_BACKLOG_SQL,
    survey_ids=("Q21", "X5"),
)
def sql_surface_priority_backlog(spark, sf_dir):
    """Quarterly order counts by priority, restricted to orders with
    at least one bulk line (TPC-H Q4 shape): a correlated EXISTS that
    Catalyst plans as a LEFT SEMI join on l_orderkey — each order
    counted once no matter how many lines qualify, which is the
    semantics a plain join + count would get wrong (double counting)
    and the reason Q4 is the canonical EXISTS test. The date window
    pushes to the orders scan, the quantity filter to the lineitem
    scan, both before the semi-join. Same text is the DuckDB
    oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PRIORITY_BACKLOG_SQL)


#: Bidirectional two-nation trade volume by year (TPC-H Q7 shape),
#: dialect-portable. EXTRACT(YEAR ...) is cast to BIGINT on both
#: sides (DuckDB returns BIGINT, Spark INT — the cast unifies).
_TRADE_VOLUME_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT)
"""


@_register(
    "sql_surface_trade_volume",
    oracle=_TRADE_VOLUME_SQL,
    survey_ids=("Q17", "X5", "X7"),
)
def sql_surface_trade_volume(spark, sf_dir):
    """Bidirectional trade volume between two nations by ship year
    (TPC-H Q7 shape): a five-way join chain where the same dimension
    table (nation) joins TWICE under different aliases with a
    disjunctive cross-filter over the alias pair — the self-alias
    disambiguation test. Both nation sides broadcast (25 rows); the
    fact-side joins shuffle on their keys; the disjunction cannot push
    into either single scan but prunes immediately after the second
    nation join. Revenue in integer cents; year via EXTRACT cast to
    BIGINT on both engines. Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TRADE_VOLUME_SQL)


#: National market share by year (TPC-H Q8 shape), dialect-portable.
#: The share is emitted as exact integer numerator/denominator cents —
#: never the float quotient, which would diverge in last-bit float
#: division across engines.
_MARKET_SHARE_SQL = """
WITH purchases AS (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           n1.n_name AS supp_nation,
           CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                AS BIGINT) AS cents
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n2.n_regionkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO')
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN cents
                     ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM purchases GROUP BY o_year
"""


@_register(
    "sql_surface_market_share",
    oracle=_MARKET_SHARE_SQL,
    survey_ids=("Q21", "X5", "X7"),
)
def sql_surface_market_share(spark, sf_dir):
    """One nation's share of a region's PROMO-part purchases by year
    (TPC-H Q8 shape): the longest join chain in the registry — seven
    tables, nation aliased twice, region filtering the CUSTOMER side
    while the CASE classifies the SUPPLIER side. The share is emitted
    as exact integer numerator/denominator cents (nation_cents,
    total_cents) rather than the float quotient TPC-H prints — the
    division is the caller's one cheap scalar op, and everything the
    engines must agree on stays bigint-exact. The conditional
    aggregate is one pass (CASE inside SUM), not a self-join. Same
    text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_MARKET_SHARE_SQL)


@_register(
    "x09_funnel_steps",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id)
    SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
           CAST(1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END
                AS BIGINT) AS steps_completed
    FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
    survey_ids=("X9", "X5", "X7"),
)
def x09_funnel_steps(spark, sf_dir):
    """Ordered-funnel completion per user (view → click → purchase),
    the product-analytics staple next to sessionization: step N's
    timestamp is the FIRST qualifying event STRICTLY AFTER step N-1's
    — a per-user min under an inequality anchored on the previous
    step, which a naive per-step min-over-all-time gets wrong (a
    click before any view must not count). Three filtered aggregates
    chained by equi-joins on user_id, each join input already
    user-grouped, then two left joins assemble the per-user funnel row
    with its depth. Timestamps compare exactly (microsecond values
    from one parquet source in both engines), so strict > is
    deterministic without a tiebreak. At 100 TB: every stage is
    hash-partitioned on user_id and the step frames shrink
    monotonically — the classic funnel shape, no window over the raw
    event stream needed."""
    ev = _ld(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    steps = (
        F.lit(1)
        + F.when(F.col("t2").isNull(), 0).otherwise(1)
        + F.when(F.col("t3").isNull(), 0).otherwise(1)
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id", "t1", "t2", "t3",
            steps.cast("bigint").alias("steps_completed"),
        )
    )


@_register(
    "x04_time_weighted_avg",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events),
    seg AS (
        SELECT user_id, cents, t,
               LEAD(t) OVER (PARTITION BY user_id
                             ORDER BY t, event_id) AS t_next
        FROM e)
    SELECT user_id,
           CAST(SUM(cents * (t_next - t)) AS BIGINT) AS twap_num,
           CAST(SUM(t_next - t) AS BIGINT) AS twap_den,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM seg WHERE t_next IS NOT NULL
    GROUP BY user_id
    """,
    survey_ids=("X4", "X7"),
)
def x04_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user (TWAP — the
    irregular-sample averaging every metering/pricing pipeline needs,
    where a plain AVG over-weights bursts): each observation holds
    until the next one, so its weight is the gap to the successor
    (LEAD over (epoch_s, event_id) — the unix_timestamp ↔
    FLOOR(epoch()) convention, event_id breaking equal-second ties
    identically in both engines). Emitted as exact integer
    numerator (cents x seconds) and denominator (seconds) — the one
    float division is the caller's, everything the engines must agree
    on stays bigint. Equal-timestamp segments contribute zero width,
    so tie order cannot change the sums. One shuffle+sort per user,
    single-pass frame — the same cost as any lag/lead feature."""
    from pyspark.sql.window import Window

    ev = _ld(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("t"),
        _cents(F.col("value")).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seg = ev.withColumn("t_next", F.lead("t").over(w)).filter(
        F.col("t_next").isNotNull()
    )
    return seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * (F.col("t_next") - F.col("t")))
        .cast("bigint")
        .alias("twap_num"),
        F.sum(F.col("t_next") - F.col("t")).cast("bigint").alias("twap_den"),
        F.count("*").cast("bigint").alias("n_segments"),
    )


@_register(
    "s18_dq_audit",
    oracle="""
    SELECT 'discount_gt_5pct' AS rule,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'nonpositive_price',
           CAST(COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'ship_before_order',
           CAST(COUNT(*) FILTER (WHERE l_shipdate < o_orderdate) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orphan_lineitem',
           CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    """,
    survey_ids=("X6", "X5", "Q21"),
)
def s18_dq_audit(spark, sf_dir):
    """Data-quality expectation audit — the gate every 100 TB ingest
    runs before promoting a batch: per rule, the violation count and
    the checked-population size (so the caller computes rates and
    applies thresholds). Four rule classes: two single-table range
    expectations (conditional counts folded into ONE scan each —
    COUNT(*) FILTER, no per-rule rescan), an inter-table consistency
    rule (ship-before-order, inner join), and a referential-integrity
    rule (orphan lineitems, left-join null count — 0 on this corpus,
    which is itself the assertion). Spark side composes the same
    frames with conditional aggregates and unionByName; the rule
    column keys the report, so new rules append without schema
    change. The join rules shuffle on the FK once; range rules are
    scan-bound with the filters evaluated map-side."""
    li = _ld(spark, sf_dir, "lineitem")
    od = _ld(spark, sf_dir, "orders")

    def rule(name, df, cond):
        return df.agg(
            F.lit(name).alias("rule"),
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.count("*").cast("bigint").alias("n_checked"),
        )

    joined = li.join(od, li["l_orderkey"] == od["o_orderkey"])
    orphan = li.join(od, li["l_orderkey"] == od["o_orderkey"], "left")
    return (
        rule("discount_gt_5pct", li, F.col("l_discount") > 0.05)
        .unionByName(
            rule("nonpositive_price", li, F.col("l_extendedprice") <= 0)
        )
        .unionByName(
            rule(
                "ship_before_order",
                joined,
                F.col("l_shipdate") < F.col("o_orderdate"),
            )
        )
        .unionByName(
            rule("orphan_lineitem", orphan, F.col("o_orderkey").isNull())
        )
    )


@_register(
    "s18_drift_report",
    oracle="""
    WITH src AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS cents,
                        CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
                          AS yr
                 FROM orders
                 WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)),
    ext AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM src),
    binned AS (SELECT yr, ((cents - mn) * 16) // (mx - mn + 1) AS bin
               FROM src, ext),
    counts AS (SELECT bin,
                      COUNT(*) FILTER (WHERE yr = 1995) AS ref_n,
                      COUNT(*) FILTER (WHERE yr = 1996) AS cur_n
               FROM binned GROUP BY bin),
    tot AS (SELECT SUM(ref_n) AS rt, SUM(cur_n) AS ct FROM counts)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(ref_n AS BIGINT) AS ref_n,
           CAST(cur_n AS BIGINT) AS cur_n,
           CAST((ref_n * 1000000) // rt AS BIGINT) AS ref_ppm,
           CAST((cur_n * 1000000) // ct AS BIGINT) AS cur_ppm,
           CAST((cur_n * 1000000) // ct - (ref_n * 1000000) // rt
                AS BIGINT) AS delta_ppm
    FROM counts, tot
    """,
    survey_ids=("X6", "Q21"),
)
def s18_drift_report(spark, sf_dir):
    """Distribution-drift report between two data vintages — the
    check a 100 TB ingest runs before trusting that this month's data
    still looks like last month's (total-variation distance in ppm =
    Σ|delta_ppm|/2; the per-bin rows are the drill-down). Reference
    period = 1995 orders, current = 1996, metric = o_totalprice in
    integer cents (half-away-from-zero rounding, the repo convention).
    16 fixed-width bins over the COMBINED min/max keep the histogram
    comparable across both periods, and every arithmetic step —
    binning ``(cents-mn)·16 div (mx-mn+1)``, per-side ppm
    normalization — is integer division, so no float bin edge or
    ratio can round differently across engines. Plan: ONE scan
    (both periods' conditional counts fold into a single groupBy —
    no per-period rescan, the dq_audit discipline), the min/max and
    the totals each ride a broadcast one-row scalar frame
    (crossJoin + limit(1), the bounded scalar-gate pattern). At
    100 TB the scan is partition-pruned to the two periods and the
    drift math touches only 16-row frames."""
    o = (
        _ld(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .filter(F.col("yr").isin(1995, 1996))
    )
    ext = o.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx")).limit(
        1
    )
    binned = o.crossJoin(F.broadcast(ext)).withColumn(
        "bin", F.expr("((cents - mn) * 16) div (mx - mn + 1)")
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("cur_n"),
    )
    tot = counts.agg(
        F.sum("ref_n").alias("rt"), F.sum("cur_n").alias("ct")
    ).limit(1)
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("ref_n").cast("bigint").alias("ref_n"),
        F.col("cur_n").cast("bigint").alias("cur_n"),
        F.expr("CAST((ref_n * 1000000) div rt AS BIGINT)").alias("ref_ppm"),
        F.expr("CAST((cur_n * 1000000) div ct AS BIGINT)").alias("cur_ppm"),
        F.expr(
            "CAST((cur_n * 1000000) div ct - (ref_n * 1000000) div rt"
            " AS BIGINT)"
        ).alias("delta_ppm"),
    )


@_register(
    "x14_batch_inference",
    oracle="""
    WITH u AS (
        SELECT vec_id,
               CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
                 AS micro,
               i
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings))
    SELECT vec_id,
           CAST(SUM(micro * ((((i - 1) * 37) % 21) - 10)) AS BIGINT)
             AS score_micro,
           CAST(SUM(micro * ((((i - 1) * 37) % 21) - 10)) > 0
                AS BOOLEAN) AS positive
    FROM u GROUP BY vec_id
    """,
    survey_ids=("X14", "X12"),
)
def x14_batch_inference(spark, sf_dir):
    """Broadcast-weights batch inference (the model-scoring stage of a
    training-data pipeline: quality classifiers, toxicity filters,
    reward models — here a linear head): every embedding is scored
    against one weight vector shipped to executors INSIDE the
    serialized pandas-UDF closure (weights are model-sized, not
    data-sized — the broadcast-small-side rule), one Arrow batch at a
    time with numpy matrix-vector work per batch, never per row.
    Exactness contract: embeddings quantize to integer micro-units
    (the s12_embed_quantize convention) and the deterministic integer
    weights w_j = ((j*37) % 21) - 10 keep every partial product a
    bigint, so the score — and the sign label — replays bit-for-bit
    in the oracle's unnest+sum. At 100 TB this is embarrassingly
    parallel and scan-bound; the only tuning knob is Arrow batch size.
    operators/udfs.py is the surface precedent; no shuffle anywhere."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    emb = _ld(spark, sf_dir, "embeddings")
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("score_micro", LongType()),
            StructField("positive", BooleanType()),
        ]
    )

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        w = ((np.arange(64) * 37) % 21 - 10).astype(np.int64)
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy())
            # Half-AWAY-from-zero, matching quantize_micro / F.round /
            # the oracle's ROUND — np.round is banker's (half-to-even)
            # and would diverge on exact-.5 micro values.
            scaled = m.astype(np.float64) * 1_000_000
            micro = np.trunc(scaled + np.copysign(0.5, scaled)).astype(
                np.int64
            )
            score = micro @ w
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "score_micro": score,
                    "positive": score > 0,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        score_batches, out_schema
    )


@_register(
    "x05_interval_overlap",
    oracle="""
    WITH w AS (
        SELECT l_partkey, l_orderkey,
               MIN(CAST(FLOOR(epoch(l_shipdate) / 86400) AS BIGINT))
                 AS lo_day,
               MAX(CAST(FLOOR(epoch(l_shipdate) / 86400) AS BIGINT))
                 AS hi_day
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY l_partkey, l_orderkey)
    SELECT a.l_partkey AS p_partkey,
           a.l_orderkey AS order_a, b.l_orderkey AS order_b,
           GREATEST(a.lo_day, b.lo_day) AS overlap_start_day,
           LEAST(a.hi_day, b.hi_day) AS overlap_end_day
    FROM w a JOIN w b
      ON a.l_partkey = b.l_partkey
     AND a.l_orderkey < b.l_orderkey
     AND a.lo_day <= b.hi_day AND b.lo_day <= a.hi_day
    """,
    survey_ids=("X5", "X7"),
)
def x05_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join (X5's second θ-join axis beyond
    point-in-interval): per part, the pairs of 1995 orders whose
    ship-day windows overlap — co-shipping detection, the keyed
    log/trace-correlation shape. Both sides are large (every order's
    window per part), so the theta-join is binned: windows explode to
    their 16-day bins, candidates meet on the (part, bin) equi-key,
    and each true pair is emitted ONLY in its first shared bin — a
    map-side filter that replaces a distinct over the candidate
    stream; the oracle is the naive keyed theta self-join, so parity
    proves exactly-once. Day numbers via the unix_timestamp ↔
    FLOOR(epoch()) convention, both bounds inclusive; the canonical
    a < b ordering halves the pair space identically in both engines.
    operators/scale.py::interval_overlap_join."""
    from .operators.scale import interval_overlap_join

    li = _ld(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
    )
    day = F.floor(F.unix_timestamp("l_shipdate") / 86400).cast("bigint")
    w = li.groupBy("l_partkey", "l_orderkey").agg(
        F.min(day).alias("lo_day"), F.max(day).alias("hi_day")
    )
    a = w.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_orderkey").alias("order_a"),
        F.col("lo_day").alias("a_lo"),
        F.col("hi_day").alias("a_hi"),
    )
    b = w.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_orderkey").alias("order_b"),
        F.col("lo_day").alias("b_lo"),
        F.col("hi_day").alias("b_hi"),
    )
    pairs = interval_overlap_join(
        a, b, ["p_partkey"], "a_lo", "a_hi", "b_lo", "b_hi", bin_width=16
    ).filter(F.col("order_a") < F.col("order_b"))
    return pairs.select(
        "p_partkey",
        "order_a",
        "order_b",
        F.greatest("a_lo", "b_lo").alias("overlap_start_day"),
        F.least("a_hi", "b_hi").alias("overlap_end_day"),
    )


@_register(
    "s03_snapshot_changes",
    oracle="""
    WITH c AS (SELECT s_suppkey,
                      CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS cents
               FROM supplier)
    SELECT 'insert' AS change_type, s_suppkey, cents AS bal_cents
    FROM c WHERE s_suppkey % 3 = 1 AND s_suppkey % 5 <> 0
    UNION ALL
    SELECT 'delete', s_suppkey, cents
    FROM c WHERE s_suppkey % 3 = 0 AND s_suppkey % 5 = 0
    UNION ALL
    SELECT 'update_postimage', s_suppkey, cents + 1000
    FROM c WHERE s_suppkey % 3 = 0 AND s_suppkey % 5 <> 0
               AND s_suppkey % 2 = 0
    """,
    survey_ids=("S3", "X5"),
)
def s03_snapshot_changes(spark, sf_dir):
    """Incremental CDC read across three committed snapshots (S3's
    consumption side — Delta table_changes / Iceberg incremental scan
    shape): snapshot 1 seeds the table (suppkeys % 3 = 0), snapshot 2
    MERGEs updates (+1000 cents for the even third) and inserts
    (% 3 = 1), snapshot 3 deletes % 5 = 0 — then snapshot_changes(1→3)
    must emit EXACTLY the applied delta: inserts and updates with
    post-image values, deletes with the version-1 pre-image, and —
    the real assertion — NOTHING for the untouched odd seed keys
    (change-sized output, not table-sized). The oracle derives all
    three change classes from the supplier table with the same
    modular arithmetic. One full-outer join on the key with struct
    equality over the value columns; reentrant per-invocation
    temp table, literal-frame result.
    sources/sinks.py::snapshot_changes."""
    import shutil

    from .sources import sinks

    sup = _ld(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100, 0).cast("bigint").alias("bal_cents"),
    )
    seed = sup.filter(F.col("s_suppkey") % 3 == 0)
    updates = seed.filter(F.col("s_suppkey") % 2 == 0).withColumn(
        "bal_cents", F.col("bal_cents") + 1000
    )
    inserts = sup.filter(F.col("s_suppkey") % 3 == 1)
    root = _scratch_dir("echem_snapshot_changes_")
    try:
        tbl = f"{root}/tbl"
        sinks.merge_parquet(
            seed, tbl, ["s_suppkey"], "s_suppkey", keep_snapshots=3
        )
        sinks.merge_parquet(
            updates.unionByName(inserts),
            tbl,
            ["s_suppkey"],
            "s_suppkey",
            keep_snapshots=3,
        )
        sinks.delete_keys_parquet(
            sup.filter(F.col("s_suppkey") % 5 == 0).select("s_suppkey"),
            tbl,
            ["s_suppkey"],
            keep_snapshots=3,
        )
        changes = sinks.snapshot_changes(spark, tbl, 1, 3, ["s_suppkey"])
        return _literal_result(spark, changes)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "x07_activity_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
        FROM events),
    g AS (
        SELECT user_id, day,
               day - ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY day) AS grp
        FROM d)
    SELECT user_id, MIN(day) AS streak_start_day,
           MAX(day) AS streak_end_day,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM g GROUP BY user_id, grp
    """,
    survey_ids=("X7", "X4"),
)
def x07_activity_streaks(spark, sf_dir):
    """Consecutive-active-day streaks per user — the gaps-and-islands
    shape (retention streaks, uptime windows, SLA breach runs): on the
    per-user DISTINCT day grid, ``day - row_number()`` is constant
    exactly within a run of consecutive days, so one window plus one
    groupBy materializes every island with its bounds and length — no
    self-join, no iteration (the classic trick, due to Itzik Ben-Gan).
    Day numbers via the unix_timestamp ↔ FLOOR(epoch()) convention;
    everything after the distinct is integer-exact. Cost at 100 TB:
    one shuffle for the distinct (also serving the window partition)
    + one aggregate — both on user_id, AQE-coalesced."""
    from pyspark.sql.window import Window

    ev = _ld(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    )
    d = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    return g.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start_day"),
        F.max("day").alias("streak_end_day"),
        F.count("*").cast("bigint").alias("streak_days"),
    ).drop("grp")


@_register(
    "x06_weighted_median",
    oracle="""
    WITH v AS (
        SELECT s_nationkey,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS w
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey),
    c AS (
        SELECT s_nationkey, cents, w,
               SUM(w) OVER (PARTITION BY s_nationkey
                            ORDER BY cents) AS cum_w,
               SUM(w) OVER (PARTITION BY s_nationkey) AS tot_w
        FROM v)
    SELECT s_nationkey,
           MIN(cents) AS weighted_median_cents,
           CAST(MAX(tot_w) AS BIGINT) AS total_weight
    FROM c WHERE cum_w * 2 >= tot_w
    GROUP BY s_nationkey
    """,
    survey_ids=("X6", "X4"),
)
def x06_weighted_median(spark, sf_dir):
    """EXACT weighted median per group (the estimator robust pricing /
    labeling pipelines want when every observation carries a weight —
    here price-cents weighted by shipped quantity, grouped by supplier
    nation): the smallest value whose inclusive cumulative weight
    reaches half the group total. Both engines' default window frame
    with ORDER BY is RANGE UNBOUNDED PRECEDING..CURRENT ROW — PEER-
    INCLUSIVE — so equal-value rows share one cumulative weight and
    tie order cannot change the answer; the half test is the integer
    cross-multiply cum*2 >= total. Contrast with the X6 sketch lane
    (percentile_approx): this is the exact path — one shuffle+sort on
    the group key, two frames over one sort, then a min-aggregate of
    the qualifying prefix."""
    from pyspark.sql.window import Window

    li = _ld(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        _cents(F.col("l_extendedprice")).alias("cents"),
        F.round("l_quantity", 0).cast("bigint").alias("w"),
    )
    sup = _ld(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    v = li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
    wc = Window.partitionBy("s_nationkey").orderBy("cents")
    wt = Window.partitionBy("s_nationkey")
    c = v.select(
        "s_nationkey",
        "cents",
        F.sum("w").over(wc).alias("cum_w"),
        F.sum("w").over(wt).alias("tot_w"),
    )
    return (
        c.filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("s_nationkey")
        .agg(
            F.min("cents").alias("weighted_median_cents"),
            F.max("tot_w").cast("bigint").alias("total_weight"),
        )
    )


#: Correlated LATERAL derived table with per-group ORDER BY + LIMIT,
#: dialect-portable (Spark 4 lateral subqueries; DuckDB LATERAL).
_LATERAL_TOPK_SQL = """
SELECT n_name, t.s_name, t.bal_cents
FROM nation, LATERAL (
    SELECT s_name,
           CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
    FROM supplier
    WHERE s_nationkey = n_nationkey
    ORDER BY s_acctbal DESC, s_suppkey
    LIMIT 3) t
"""


@_register(
    "sql_surface_lateral_topk",
    oracle=_LATERAL_TOPK_SQL,
    survey_ids=("X1", "X5"),
)
def sql_surface_lateral_topk(spark, sf_dir):
    """Top-3 suppliers per nation through a correlated LATERAL derived
    table — the SQL spelling of per-group top-k that ships the LIMIT
    INSIDE the correlation (vs the window-function spelling in
    x01_group_topk): the optimizer must decorrelate an ORDER BY +
    LIMIT that references the outer row, which Catalyst rewrites to a
    rank-window over the joined domain rather than re-running the
    subquery per nation. The (s_acctbal, s_suppkey) sort key is
    tie-free, so both engines pick identical top-3 sets. LATERAL is
    the shape SQL users reach for when the per-group work is richer
    than one aggregate (top-k with extra columns, per-key sampling) —
    having it value-oracled proves the decorrelation preserves
    per-group limit semantics. Same text is the DuckDB oracle."""
    from .sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


@_register(
    "s01_partition_evolution",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
    GROUP BY o_orderpriority
    """,
    survey_ids=("S1", "Q1"),
)
def s01_partition_evolution(spark, sf_dir):
    """Partition-SCHEME evolution read (the S1 maintenance case
    schema-evolution doesn't cover): a long-lived table whose old
    vintage is partitioned by year only and whose new vintage by
    (year, priority) — the migration every growing table makes when
    the original scheme stops pruning enough. One logical read must
    span both vintages WITH pruning on each: the two layouts are
    scanned as separate frames (each with its own partition filters,
    asserted by the oracle agreeing only if no 1996 row is lost or
    doubled), unioned by name, then aggregated. The year filter
    prunes DIRECTORIES in both vintages; the priority grouping reads
    priority from the partition path in the new vintage and from the
    data in the old. Reentrant: per-invocation scratch, literal-frame
    result. At 100 TB the point is you never rewrite the old vintage
    — the union view IS the migration."""
    import shutil

    from .sources import sinks

    od = _ld(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        "o_orderdate",
        F.year("o_orderdate").alias("o_year"),
    )
    # old vintage: orderkey % 2 == 0, partitioned by year only;
    # new vintage: the rest, partitioned by (year, priority)
    root = _scratch_dir("echem_part_evolve_")
    try:
        old_path, new_path = f"{root}/v1", f"{root}/v2"
        od.filter(F.col("o_orderkey") % 2 == 0).write.partitionBy(
            "o_year"
        ).parquet(old_path)
        od.filter(F.col("o_orderkey") % 2 == 1).write.partitionBy(
            "o_year", "o_orderpriority"
        ).parquet(new_path)
        cols = ["o_orderpriority", "o_totalprice", "o_year"]
        both = (
            spark.read.parquet(old_path)
            .select(*cols)
            .unionByName(spark.read.parquet(new_path).select(*cols))
        )
        result = (
            both.filter(F.col("o_year") == 1996)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
                )
                .cast("bigint")
                .alias("total_cents"),
            )
        )
        return _literal_result(spark, result)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# =====================================================================
# Round-10 additions: exact-integer analytics audits
# =====================================================================


@_register(
    "x04_max_drawdown",
    oracle="""
    WITH s AS (
        SELECT l_partkey,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               MAX(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS peak
        FROM lineitem)
    SELECT l_partkey AS p_partkey,
           MAX(peak - cents) AS max_drawdown_cents,
           MAX(peak) AS peak_cents,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM s GROUP BY 1
    """,
    survey_ids=("X4",),
)
def x04_max_drawdown(spark, sf_dir):
    """Per-key maximum drawdown (X4): the running-peak-minus-current
    window pattern every financial/metrics pipeline carries — here
    each part's price series ordered by (shipdate, orderkey,
    linenumber), a total order so the prefix-max is deterministic.
    All arithmetic in integer cents, so drawdowns replay bit-for-bit
    in any engine. Scale shape: ONE per-key window (hash-partitioned
    on l_partkey, no global ordering anywhere) feeding a map-side-
    combinable aggregate — the per-key row count bounds task memory,
    exactly the bounded-window discipline x04_analytic_windows
    documents."""
    from pyspark.sql.window import Window

    li = _ld(spark, sf_dir, "lineitem")
    cents = _cents(F.col("l_extendedprice"))
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = li.select(
        "l_partkey",
        cents.alias("cents"),
        F.max(cents).over(w).alias("peak"),
    )
    return s.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.max(F.col("peak") - F.col("cents")).alias("max_drawdown_cents"),
        F.max("peak").alias("peak_cents"),
        F.count("*").cast("bigint").alias("n_points"),
    )


#: round(1000 * log10(1 + 1/d)) for d = 1..9 — Benford's law reference
#: distribution in per-mille, precomputed so neither engine evaluates
#: floating-point logarithms at query time.
_BENFORD_PER_MILLE = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67,
                      7: 58, 8: 51, 9: 46}


@_register(
    "s18_benford_digits",
    oracle="""
    WITH d AS (
        SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100, 0)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice > 0),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST((1000 * n) // SUM(n) OVER () AS BIGINT) AS per_mille,
           CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
                      WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
                      WHEN 7 THEN 58 WHEN 8 THEN 51 ELSE 46 END
             AS benford_per_mille
    FROM c
    """,
    survey_ids=("X6", "Q21"),
)
def s18_benford_digits(spark, sf_dir):
    """Benford first-digit audit (the s18 data-quality family):
    distribution of the first significant digit of order totals vs
    Benford's reference — the standard fabricated-data / unit-mixup
    screen. The digit is taken from the DECIMAL STRING of the integer
    cents (exact in every engine; no float log10 at query time — the
    reference distribution is a precomputed literal), and observed
    shares are integer per-mille via bigint division. Scale shape: one
    scan into a map-side-combined 9-group aggregate; the share window
    runs over NINE rows. 100 TB cost = the scan."""
    from pyspark.sql.window import Window

    o = _ld(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        _cents(F.col("o_totalprice")).cast("string"), 1, 1
    ).cast("bigint")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    ref = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PER_MILLE.items() for x in kv]
    )
    total = F.sum("n").over(Window.partitionBy())
    # integer floor division on BOTH sides (Spark DIV / DuckDB //):
    # a float divide-then-cast rounds in DuckDB but truncates in
    # Spark — off-by-one per-mille on any non-exact share
    return c.withColumn("total", total.cast("bigint")).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.expr("(1000 * n) DIV total").cast("bigint").alias("per_mille"),
        ref[F.col("digit")].cast("bigint").alias("benford_per_mille"),
    )


@_register(
    "x06_magnitude_hist",
    oracle="""
    SELECT LENGTH(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       AS VARCHAR)) AS magnitude,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
             AS min_cents,
           MAX(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
             AS max_cents
    FROM lineitem
    GROUP BY 1
    """,
    survey_ids=("X6",),
)
def x06_magnitude_hist(spark, sf_dir):
    """Order-of-magnitude histogram (X6): decimal-digit-count buckets
    of integer cents — the log-scale distribution profile that an
    equi-WIDTH histogram misses when values span orders of magnitude
    (x06_equidepth_hist is the rank-side twin). Digit count via the
    integer's decimal string, exact in every engine — no float log10
    whose boundary behavior at exact powers differs per libm. One
    scan, map-side-combined tiny aggregate: 100 TB cost = the scan."""
    li = _ld(spark, sf_dir, "lineitem")
    cents = _cents(F.col("l_extendedprice"))
    return (
        li.select(
            F.length(cents.cast("string")).cast("bigint").alias("magnitude"),
            cents.alias("cents"),
        )
        .groupBy("magnitude")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@_register(
    "x09_event_gaps",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                 AS gap_s
        FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           MAX(gap_s) AS max_gap_s,
           CAST(SUM(gap_s) AS BIGINT) AS absent_s
    FROM g
    WHERE gap_s > 3600
    GROUP BY user_id
    """,
    survey_ids=("X9", "X7"),
)
def x09_event_gaps(spark, sf_dir):
    """Absence-gap audit (X9's inverse): per user, the inactivity gaps
    LONGER than an hour between consecutive events — churn-risk /
    instrumentation-outage detection, the complement of sessionization
    (which groups the activity BETWEEN these gaps). Gap arithmetic in
    epoch seconds (bigint, exact); ordering totalized with event_id.
    Scale shape: one per-key lag window (hash-partitioned on user_id)
    into a map-side-combined aggregate — same bounded-window
    discipline as sessionize, no global sort."""
    from pyspark.sql.window import Window

    ev = _ld(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp("ts").cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (epoch_s - F.lag(epoch_s).over(w)).alias("gap_s"),
    ).filter(F.col("gap_s") > 3600)
    return g.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.max("gap_s").alias("max_gap_s"),
        F.sum("gap_s").cast("bigint").alias("absent_s"),
    )


@_register(
    "x01_skyline_pareto",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS p_size
        FROM part)
    SELECT a.p_partkey, a.price_cents, a.p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_cents <= a.price_cents
          AND b.p_size >= a.p_size
          AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
    """,
    survey_ids=("X1", "X5"),
)
def x01_skyline_pareto(spark, sf_dir):
    """Pareto skyline (multi-objective dominance, X1's other top-k):
    the price-value frontier — parts where no other part is both
    cheaper-or-equal AND bigger-or-equal (strict somewhere). Min-price
    / max-size CONFLICT, so the frontier is a real curve (independent
    objectives would collapse it to one corner point). The naive
    spelling is the O(n²) NOT EXISTS anti-join the oracle states; the
    engine runs the standard DISTRIBUTED two-phase skyline instead
    (internally size is negated so both objectives minimize):

    1. LOCAL skylines per deterministic hash bucket — a point
       dominated within its bucket is dominated globally, so each
       bucket's window prefilter (shared (bucket, price) sort; strict-
       cheaper min-size via a RANGE frame ending at -1, plus the
       equal-price min) discards the bulk map-side-parallel. Hash-
       partitioned on the bucket key; per-task state = one bucket.
    2. GLOBAL pass over the survivors with the same two-window rule,
       bucket removed. The unpartitioned window here is safe by
       construction: survivors of phase 1 are the union of per-bucket
       skylines — for d-dimensional data that is O(buckets · skyline
       size), thousands of rows where the input is millions — the
       same provably-small-frame argument as the offset table of
       operators/scale.py::global_row_number.

    Tie semantics: coincident (price, size) points do not dominate
    each other — all stay (the equal-price rule keeps size == group
    min, strictly-cheaper rule is strict). Integer cents throughout."""
    from pyspark.sql.window import Window

    p = _ld(spark, sf_dir, "part").select(
        "p_partkey",
        _cents(F.col("p_retailprice")).alias("price_cents"),
        (-F.col("p_size")).cast("bigint").alias("p_size"),
    )

    def skyline(df, bucket_col=None):
        part = [bucket_col] if bucket_col else []
        w_strict = (
            Window.partitionBy(*part)
            .orderBy("price_cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*part, "price_cents")
        strict_min = F.min("p_size").over(w_strict)
        eq_min = F.min("p_size").over(w_eq)
        return df.withColumn("_sm", strict_min).withColumn(
            "_em", eq_min
        ).filter(
            (F.col("p_size") == F.col("_em"))
            & (F.col("_sm").isNull() | (F.col("p_size") < F.col("_sm")))
        ).drop("_sm", "_em")

    local = skyline(
        p.withColumn("_bkt", F.pmod(F.col("p_partkey"), F.lit(64))), "_bkt"
    ).drop("_bkt")
    return skyline(local).select(
        "p_partkey",
        "price_cents",
        (-F.col("p_size")).cast("bigint").alias("p_size"),
    )


@_register(
    "d23_source_priority_dedup",
    oracle="""
    WITH aug AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               'src' || CAST((CAST(SUBSTRING(source, 4) AS BIGINT) + 5)
                             % 20 AS VARCHAR) AS source,
               text
        FROM documents WHERE doc_id % 10 = 0),
    d AS (
        SELECT doc_id, source, text,
               CAST(SUBSTRING(source, 4) AS BIGINT) AS prio
        FROM aug),
    g AS (
        SELECT doc_id, source, prio,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY prio, doc_id)
                 AS rn,
               COUNT(*) OVER (PARTITION BY text) AS n_copies,
               MAX(prio) OVER (PARTITION BY text)
                 - MIN(prio) OVER (PARTITION BY text) AS prio_span
        FROM d)
    SELECT doc_id, source,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(prio_span AS BIGINT) AS prio_span
    FROM g WHERE rn = 1 AND n_copies > 1
    """,
    survey_ids=("X11", "Q16"),
)
def d23_source_priority_dedup(spark, sf_dir):
    """Cross-source survivorship dedup (the d-family's priority
    lattice): when the same text arrives from several corpus sources,
    keep the copy from the most TRUSTED source (numeric suffix of
    ``source`` ascending — the wiki > books > crawl rule every
    LLM-mix pipeline applies), doc_id as the tiebreak. Generalizes
    d11's first-wins (order by doc_id alone) to an explicit
    source-priority order — the survivorship half of
    d25_entity_resolution applied at exact-duplicate granularity.
    Output is change-sized (duplicate groups only), with the group's
    priority SPAN as cross-source evidence. One hash-partitioned
    window over the text key — dedup's standard single-shuffle shape;
    at 100 TB the text key would be a fixed-width content hash
    (t13_fingerprint), same plan. The natural corpus has no exact
    cross-source copies, so every 10th document is planted as a
    shifted-source twin IDENTICALLY here and in the oracle (the
    _AUG_EMB_SQL convention) — the driver row exercises real
    cross-source groups with non-zero spans, not a 0=0 match."""
    from pyspark.sql.window import Window

    docs = _ld(spark, sf_dir, "documents")
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(
            F.lit("src"),
            (
                (F.substring("source", 4, 10).cast("bigint") + 5) % 20
            ).cast("string"),
        ).alias("source"),
        "text",
    )
    aug = docs.select("doc_id", "source", "text").unionByName(twins)
    d = aug.select(
        "doc_id",
        "source",
        "text",
        F.substring("source", 4, 10).cast("bigint").alias("prio"),
    )
    w = Window.partitionBy("text")
    g = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(w.orderBy("prio", "doc_id"))
        .alias("rn"),
        F.count("*").over(w).alias("n_copies"),
        (F.max("prio").over(w) - F.min("prio").over(w)).alias("prio_span"),
    )
    return g.filter((F.col("rn") == 1) & (F.col("n_copies") > 1)).select(
        "doc_id",
        "source",
        F.col("n_copies").cast("bigint").alias("n_copies"),
        F.col("prio_span").cast("bigint").alias("prio_span"),
    )


@_register(
    "x10_stream_custom_sink",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(user_id) AS BIGINT) AS user_checksum
        FROM events GROUP BY event_type
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS manifest_rows FROM events)
    SELECT a.event_type, a.n_events, a.n_users, a.user_checksum,
           t.manifest_rows
    FROM agg a CROSS JOIN tot t
    """,
    survey_ids=("X10", "S4"),
)
def x10_stream_custom_sink(spark, sf_dir):
    """Structured Streaming INTO a custom Python connector — the
    streaming half of the Python Data Source WRITER API
    (sources/report_sink.py::make_report_stream_sink_datasource),
    completing the surface square whose other corners are the batch
    writer (s04_custom_sink), the batch reader (s02_custom_datasource)
    and the stream reader (x10_stream_custom_source). The events table
    replays as a bounded availableNow stream, each micro-batch's
    partitions write task-side part files (in-progress rename), and
    the driver publishes per-batch manifests atomically; a REPLAYED
    batchId overwrites its own manifest, so the manifest-honoring
    read-back below never sees replay duplicates — the idempotent
    per-batchId contract a streaming sink owes the engine. The result
    is assembled ONLY from what the sink committed: manifests are
    parsed for the committed row total, their referenced parts re-read
    and aggregated; the oracle replays the same aggregation from the
    events table, so a green row proves stream → write → commit →
    manifest → read-back end-to-end. Reentrant via the s01 pattern
    (per-invocation scratch dirs, deleted before return). The stream
    runs through streaming/windows.py::_run_stream, which retries a
    failed query once with fresh scratch dirs; the read-back uses the
    last attempt's dirs."""
    import shutil

    from .sources.report_sink import make_report_stream_sink_datasource
    from .streaming.windows import _run_stream, read_events_stream

    spark.dataSource.register(make_report_stream_sink_datasource())
    # Tab-delimited, not comma: an event_type containing a comma would
    # shift user_id into the wrong field and silently corrupt the
    # checksum. Tab cannot appear in a line-oriented text sink's fields.
    lines = read_events_stream(spark, sf_dir).select(
        F.concat_ws("\t", "event_type", F.col("user_id").cast("string")).alias(
            "value"
        )
    )
    attempts: list[tuple[str, str]] = []  # (out, checkpoint) per start

    def start():
        out = _scratch_dir("echem_stream_sink_")
        ck = _scratch_dir("echem_stream_sink_ck_")
        attempts.append((out, ck))
        return (
            lines.writeStream.format("reportsink_stream")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    try:
        _run_stream(spark, start)
        out = attempts[-1][0]
        manifests = spark.read.option("multiLine", "true").json(
            f"{out}/manifest-*.json"
        )
        committed = manifests.select(F.explode("parts").alias("p")).select(
            "p.file", "p.n_rows"
        )
        files = [r["file"] for r in committed.select("file").collect()]
        manifest_rows = committed.agg(F.sum("n_rows").cast("bigint")).collect()[0][0]
        parsed = spark.read.text([f"{out}/{name}" for name in files]).select(
            F.split("value", "\t").alias("f")
        ).select(
            F.col("f")[0].alias("event_type"),
            F.col("f")[1].cast("bigint").alias("user_id"),
        )
        result = parsed.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("user_id").cast("bigint").alias("user_checksum"),
        ).withColumn("manifest_rows", F.lit(manifest_rows).cast("bigint"))
        return _literal_result(spark, result)
    finally:
        for out, ck in attempts:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(ck, ignore_errors=True)
