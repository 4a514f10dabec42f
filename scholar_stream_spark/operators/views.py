"""Curated-view operators V1-V12 (SURVEY.md §2.3) — the analytical core.

The reference defines these as two Snowflake views over a VARIANT landing
table (``sql/04_views_curated.sql``). Here they are DataFrame builders:

- ``shred``            — V2-V7: the typed columns of one envelope, from its
  parsed payload and delivery metadata.
- ``build_vw_works``   — V1-V9: projection of the typed columns,
  landed-time coalesce, latency derivation.
- ``build_vw_latency`` — V10-V12: global KPI aggregate over a relative
  time window.

Design notes (scale):

- **Shred once, at landing** (V2-V7): Snowflake keeps VARIANT
  sub-columns in columnar form. Here engine landing
  (``sources/raw_landing.py``) writes ``shred``'s typed columns next to
  the verbatim payload and metadata, reusing the ``try_parse_json`` value
  of its dead-letter probe, so a dashboard poll scans columns instead of
  re-parsing every payload. An input with only payload and metadata
  (a stream, a test fixture, bronze landed before the typed columns) is
  shredded by ``build_vw_works`` with the same function, so the semantics
  have one definition.
- **Injectable clock**: ``CURRENT_TIMESTAMP()`` appears in the landed-ts
  coalesce and the window bounds (reference
  ``sql/04_views_curated.sql:20-24,54-60``) — nondeterministic by design.
  Every builder takes ``now=None`` (→ ``current_timestamp()``) so tests
  and oracle comparisons can pin the clock (SURVEY §5.2 / §7.3). The clock
  is read-time only: it never reaches the typed columns.
- Views compose (V1): ``vw_latency`` is built *over* ``vw_works``;
  registered as temp views they inline into one logical plan, so the
  filter in the latency view pushes down into the works scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def try_to_timestamp(expr: str) -> str:
    """V5 — safe timestamp parse of the SQL expression ``expr``: NULL on
    malformed, never an error.

    Spark's ``try_to_timestamp`` needs a format when input varies; the
    wire carries ISO-8601 with offset. Snowflake's TRY_TO_TIMESTAMP_TZ
    (reference ``sql/04_views_curated.sql:18-19``) accepts a family of
    ISO forms — we coalesce over the two shapes the pipeline produces
    (fractional seconds with offset, plain ``ts`` literals).
    """
    return (
        f"coalesce(try_to_timestamp({expr}, \"yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX][X]\"), "
        f"try_to_timestamp({expr}, \"yyyy-MM-dd HH:mm:ss[.SSSSSS][XXX][X]\"), "
        f"try_to_timestamp({expr}))"
    )


def latency_seconds(event_ts: Column, landed_ts: Column) -> Column:
    """V8+V9 — guarded timestamp difference in whole seconds.

    Snowflake's ``DATEDIFF('second', a, b)`` counts second-boundary
    crossings, i.e. ``floor_seconds(b) - floor_seconds(a)`` — exactly
    ``unix_timestamp(b) - unix_timestamp(a)`` (verified in tests). NULL
    event_ts → NULL latency (reference ``sql/04_views_curated.sql:39-42``).
    """
    return F.when(
        event_ts.isNotNull(),
        F.unix_timestamp(landed_ts) - F.unix_timestamp(event_ts),
    ).otherwise(F.lit(None).cast("long"))


def shred(payload: str, metadata: str) -> dict[str, str]:
    """V2-V7 — the typed columns of one bronze row, as SQL expressions
    keyed by column name.

    ``payload`` and ``metadata`` are SQL expressions for the row's two
    JSON strings parsed to VARIANT (``try_parse_json``), the analog of the
    reference's two VARIANT landing columns (``sql/03_tables_raw.sql:5-8``).
    Each path is a ``try_variant_get``, so a missing key, a wrong type or
    an unparseable document gives NULL, never an error. The expressions
    are SQL text because building them through the Column API costs a
    py4j round trip per call, which a dashboard poll pays every time.

    Engine landing stamps one ``IngestionTime`` per batch, yet typing it
    there inlines no per-batch timestamp literal into generated code:
    ``try_parse_json`` is not constant-folded, so ``ingestion_time`` is
    computed per row like every other column.
    """

    def rec(path: str) -> str:
        return f"try_variant_get({payload}, '$.{path}', 'string')"

    return {
        "work_id": rec("id"),
        "doi": rec("doi"),
        "title": rec("title"),
        # V7: lenient number-or-string parse (TRY_TO_NUMBER(TO_VARCHAR(..))).
        "publication_year": f"try_cast({rec('publication_year')} AS BIGINT)",
        "venue": rec("host_venue"),
        "primary_author": rec("primary_author"),
        "email": rec("email"),
        "event_ts": try_to_timestamp(rec("event_ts")),
        "ingest_ts": try_to_timestamp(rec("ingest_ts")),
        "load_id": rec("_LOAD_ID"),
        "ingestion_time": try_to_timestamp(
            f"try_variant_get({metadata}, '$.IngestionTime', 'string')"
        ),
    }


def build_vw_works(
    raw: DataFrame,
    now: Column | None = None,
    include_load_id: bool = False,
) -> DataFrame:
    """V1-V9 — curated projection of the bronze landing table.

    Input: bronze rows — ``payload`` and ``metadata`` strings, plus the
    typed columns of ``shred`` when engine landing wrote them. Output
    columns mirror the reference view (``sql/04_views_curated.sql:28-44``):
    work_id, doi, title, publication_year, venue, primary_author, email,
    event_ts, ingest_ts, landed_ts, latency_seconds.

    Typed bronze is projected as stored. An input without the typed
    columns is shredded here (``shred``), parsing each JSON once in its
    own projection.

    ``include_load_id`` appends the wire ``_LOAD_ID`` as ``load_id`` —
    the per-record uuid the reference carries specifically so downstream
    dedup can key on it (``ingestion/schema.py:47``); the streaming
    dedup path needs it, the reference view itself doesn't expose it.
    """
    if now is None:
        now = F.current_timestamp()

    if "ingestion_time" in raw.columns:
        # A directory that mixes files landed before the typed columns
        # reads back NULL typed columns for their rows (the schema comes
        # from one footer). Engine landing never leaves ingestion_time
        # NULL, so it keys a per-row fallback that shreds only those rows.
        # The fallback binds the parsed documents in a lambda: lambdas run
        # interpreted, so it adds almost no generated code to the query,
        # whose classes are compiled afresh on every poll.
        docs = (
            "array(named_struct('payload', try_parse_json(payload), "
            "'metadata', try_parse_json(metadata)))"
        )
        typed = raw.selectExpr(
            *[
                f"CASE WHEN ingestion_time IS NULL "
                f"THEN transform({docs}, r -> {expr})[0] ELSE {name} END AS {name}"
                for name, expr in shred("r.payload", "r.metadata").items()
            ]
        )
    else:
        typed = raw.selectExpr(
            "try_parse_json(payload) AS v", "try_parse_json(metadata) AS mv"
        ).selectExpr(*[f"{expr} AS {name}" for name, expr in shred("v", "mv").items()])

    # V6: 3-way landed-time coalesce (delivery metadata → producer
    # ingest_ts → query time), reference sql/04_views_curated.sql:20-24.
    landed_ts = F.coalesce(F.col("ingestion_time"), F.col("ingest_ts"), now)
    cols = [
        "work_id",
        "doi",
        "title",
        "publication_year",
        "venue",
        "primary_author",
        "email",
        "event_ts",
        "ingest_ts",
        landed_ts.alias("landed_ts"),
        latency_seconds(F.col("event_ts"), landed_ts).alias("latency_seconds"),
    ]
    if include_load_id:
        cols.append("load_id")
    return typed.select(*cols)


def build_vw_latency(
    vw_works: DataFrame,
    now: Column | None = None,
    window_minutes: int = 5,
) -> DataFrame:
    """V10-V12 — latency KPIs over the trailing window.

    Global aggregate (no GROUP BY): avg/min/max latency + sample count
    over rows whose ``landed_ts`` falls in the last ``window_minutes``,
    with the window bounds echoed as columns (reference
    ``sql/04_views_curated.sql:48-62``). Catalyst plans this as a
    partial+final agg (map-side combine), so it is one scan + a
    single-row shuffle regardless of input size.
    """
    if now is None:
        now = F.current_timestamp()
    start = now - F.expr(f"INTERVAL {window_minutes} MINUTES")
    windowed = vw_works.filter(
        F.col("event_ts").isNotNull() & (F.col("landed_ts") >= start)
    )
    agg = windowed.agg(
        F.avg("latency_seconds").alias("avg_sec_5m"),
        F.min("latency_seconds").alias("min_sec_5m"),
        F.max("latency_seconds").alias("max_sec_5m"),
        F.count(F.lit(1)).alias("samples_5m"),
    )
    # V12: window bounds as output columns (post-agg projection — they are
    # plan-time constants, not aggregates).
    return agg.withColumns({"window_start": start, "window_end": now})
