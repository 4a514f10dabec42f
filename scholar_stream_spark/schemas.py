"""Engine schemas (StructTypes) — the data model of SURVEY.md §1.

The reference declares its record shapes as pydantic models
(``OpenAlexWork`` / ``Envelope``, reference ``ingestion/schema.py:20-47``)
and lands raw data as two Snowflake VARIANTs
(``sql/03_tables_raw.sql:5-8``). Here the same contracts are explicit
``StructType``s:

- ``OPENALEX_WORK_SCHEMA`` — the *validating projection* schema. Used
  with ``from_json`` in PERMISSIVE mode it reproduces pydantic's
  ``extra="ignore"`` + all-Optional semantics exactly: unknown JSON keys
  are dropped, missing keys become NULL.
- ``ENVELOPE_FIELDS`` — the flat wire/analytics record (one row per
  work), in wire key order. ``publication_year`` stays a string on the
  wire: JSON producers emit it as number OR string, and the curated
  columns apply the lenient numeric cast (the reference does
  ``TRY_TO_NUMBER(TO_VARCHAR(...))`` for the same reason,
  ``sql/04_views_curated.sql:32``); timestamps are likewise ISO strings
  on the wire, parsed leniently (``try_to_timestamp``).
- ``RAW_EVENT_SCHEMA`` — the verbatim part of the bronze landing table:
  raw payload JSON plus delivery metadata JSON, the Spark analog of
  ``RAW.OPENALEX_EVENTS(RECORD, RECORD_METADATA)``. Engine landing writes
  the typed curated columns of ``operators.views.shred`` next to them,
  computed once per record from the same parse that decides
  dead-lettering. Typing is NULL-on-error, so a well-formed record whose
  fields do not type still lands, with its payload intact for replay.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- nested source record (reference ingestion/schema.py:8-29) ----------

OPENALEX_WORK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("doi", T.StringType()),
        T.StructField("title", T.StringType()),
        # number-or-string in the wild; parsed leniently downstream.
        T.StructField("publication_year", T.StringType()),
        T.StructField(
            "host_venue",
            T.StructType([T.StructField("display_name", T.StringType())]),
        ),
        T.StructField(
            "authorships",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "author",
                            T.StructType(
                                [T.StructField("display_name", T.StringType())]
                            ),
                        )
                    ]
                )
            ),
        ),
        T.StructField("email", T.StringType()),
        T.StructField("event_ts", T.StringType()),
    ]
)

# --- flat canonical envelope (reference ingestion/schema.py:32-47) -------
# Field order matters: to_json emits keys in struct order, mirroring the
# pydantic field order on the wire. The load id's wire key is `_LOAD_ID`
# (alias, reference ingestion/schema.py:47).

ENVELOPE_FIELDS = [
    "id",
    "doi",
    "title",
    "publication_year",
    "host_venue",
    "primary_author",
    "email",
    "event_ts",
    "ingest_ts",
    "source",
    "_LOAD_ID",
]

# --- bronze landing (reference sql/03_tables_raw.sql:5-8) ----------------

RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType()),
        T.StructField("metadata", T.StringType()),
    ]
)
