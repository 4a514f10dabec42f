"""End-to-end runs of the producer CLI (``python -m scholar_stream_spark``)
against the hermetic fake transport — option surface, dry-run, landing,
dead-letter config, batch-size bounds, and the legacy ``run`` alias
(reference ``ingestion/producer.py:32-49,161-166``)."""

from __future__ import annotations

import json

import pytest

from scholar_stream_spark.__main__ import main

WORKS_PAGES = [
    [
        {"id": "W1", "title": "T1", "publication_year": 2020,
         "authorships": [{"author": {"display_name": "Ada"}}],
         "email": "ada@ex.com"},
        {"id": "W2", "title": "T2", "publication_year": "2019"},
        {"id": "W3"},
    ],
    [
        {"id": "W4", "host_venue": {"display_name": "V4"}},
        {"id": "W5", "authorships": []},
    ],
]


@pytest.fixture()
def pages_file(tmp_path):
    f = tmp_path / "pages.json"
    f.write_text(json.dumps(WORKS_PAGES))
    return str(f)


def test_dry_run_counts_without_writing(pages_file, capsys, spark):
    rc = main(["--fake-pages", pages_file, "--dry-run"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "would send 5 records" in out


def test_produce_lands_bronze_rows(pages_file, tmp_path, capsys, spark):
    raw = str(tmp_path / "raw")
    rc = main(
        [
            "--fake-pages", pages_file,
            "--raw-path", raw,
            "--errors-path", str(tmp_path / "errs"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--batch-size", "3",
        ]
    )
    assert rc == 0
    landed = spark.read.parquet(raw)
    assert landed.count() == 5
    # the verbatim envelope and delivery metadata, next to the typed
    # curated columns written at landing
    assert set(landed.columns) == {
        "payload", "metadata", "land_date",
        "work_id", "doi", "title", "publication_year", "venue",
        "primary_author", "email", "event_ts", "ingest_ts", "load_id",
        "ingestion_time",
    }
    # every payload is a valid envelope line with the canonical id field
    ids = {
        json.loads(r["payload"])["id"] for r in landed.collect()
    }
    assert ids == {"W1", "W2", "W3", "W4", "W5"}
    out = capsys.readouterr().out
    assert "Producer summary" in out
    assert "TOTAL:" in out and "input=5" in out and "dead=0" in out


def test_run_alias_and_max_pages(pages_file, capsys, spark):
    rc = main(["run", "--fake-pages", pages_file, "--dry-run",
               "--max-pages", "1", "--per-page", "3"])
    assert rc == 0
    assert "would send 3 records" in capsys.readouterr().out


def test_batch_size_bounds_rejected(pages_file):
    with pytest.raises(SystemExit):
        main(["--fake-pages", pages_file, "--dry-run", "--batch-size", "501"])
    with pytest.raises(SystemExit):
        main(["--fake-pages", pages_file, "--dry-run", "--batch-size", "0"])


def test_raw_path_required_without_dry_run(pages_file):
    with pytest.raises(SystemExit):
        main(["--fake-pages", pages_file])


def test_url_without_mailto_is_rejected(monkeypatch):
    """--url runs hard-require a contact email, mirroring the reference
    client's constructor (ingestion/openalex_client.py:14-20)."""
    monkeypatch.delenv("OPENALEX_EMAIL", raising=False)
    with pytest.raises(SystemExit, match="contact email"):
        main(["--url", "https://api.example.org/works", "--dry-run"])


def test_mailto_env_fallback(monkeypatch):
    """$OPENALEX_EMAIL satisfies the requirement (reference config env),
    and --query-params forwards into the source options."""
    from scholar_stream_spark.__main__ import (
        _build_parser,
        _effective_batch_size,
        _source_options,
    )

    monkeypatch.setenv("OPENALEX_EMAIL", "env@example.com")
    args = _build_parser().parse_args(
        ["--url", "https://api.example.org/works",
         "--query-params", '{"filter": "is_oa:true"}']
    )
    opts = _source_options(args, _effective_batch_size(args))
    assert opts["mailto"] == "env@example.com"
    assert json.loads(opts["query_params"]) == {"filter": "is_oa:true"}
    # explicit flag wins over env
    args = _build_parser().parse_args(
        ["--url", "https://api.example.org/works", "--mailto", "cli@ex.com"]
    )
    assert _source_options(args, 50)["mailto"] == "cli@ex.com"
