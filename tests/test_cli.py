"""jobs/run_extract.py CLI: in-process main() coverage — arg parsing, rules
config loading, warc input format, error paths. (The spark-submit form is
exercised by the verify recipe; these pin the same code under pytest.)"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
import run_extract as CLI  # noqa: E402

from corsearch_project_spark.fixtures.gen_pages import gen_pages, pages_to_pandas
from corsearch_project_spark.sources.warc import build_warc


@pytest.fixture()
def pages_src(spark, tmp_path):
    src = os.path.join(str(tmp_path), "pages")
    spark.createDataFrame(pages_to_pandas(gen_pages(60, seed=11))).write.parquet(src)
    return src


def _run(argv, capsys):
    rc = CLI.main(argv)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


def test_cli_pages_with_rules_json(spark, pages_src, tmp_path, capsys):
    rules_path = os.path.join(str(tmp_path), "rules.json")
    with open(rules_path, "w") as f:
        json.dump(
            {
                "example.com": {
                    "source_key": "example.com",
                    "strip_selectors": ["nav", "footer", "aside"],
                    "keep_selectors": ["article"],
                    "min_text_density": 10.0,
                }
            },
            f,
        )
    out = os.path.join(str(tmp_path), "out")
    rc, rep = _run(
        [
            "--input", pages_src, "--output", out,
            "--run-id", "CLI1", "--buckets", "8",
            "--rules-json", rules_path,
        ],
        capsys,
    )
    assert rc == 0
    assert rep["docs_out"] == 60
    assert len(rep["buckets_written"]) == 8
    assert "phase_wall_s" in rep


def test_cli_warc_input(spark, tmp_path, capsys):
    import datetime as dt

    wpath = os.path.join(str(tmp_path), "s.warc.gz")
    recs = [
        (
            "http://cli.example/x",
            dt.datetime(2024, 2, 1, 0, 0, 0),
            b"<html><body><p>cli warc body text that is long enough to keep "
            b"after scoring thresholds are applied here.</p></body></html>",
        )
    ]
    with open(wpath, "wb") as f:
        f.write(build_warc(recs, gzip_members=True))
    out = os.path.join(str(tmp_path), "wout")
    rc, rep = _run(
        ["--input", wpath, "--output", out, "--run-id", "CLI2",
         "--buckets", "4", "--input-format", "warc"],
        capsys,
    )
    assert rc == 0 and rep["docs_out"] == 1


def test_cli_missing_input_exits_nonzero(tmp_path, capsys, spark):
    rc = CLI.main(
        ["--input", os.path.join(str(tmp_path), "nope"),
         "--output", os.path.join(str(tmp_path), "o")]
    )
    assert rc == 1


def test_rules_from_plain_ignores_unknown_keys():
    from corsearch_project_spark.webextract.rules import rules_from_plain

    rules = rules_from_plain(
        {"x.com": {"source_key": "x.com", "min_text_density": 5.0,
                   "future_knob": 42, "another_new_field": "y"}}
    )
    assert rules["x.com"].min_text_density == 5.0


def test_validate_table_pass_and_fail(spark, pages_src, tmp_path, capsys):
    """validate_table passes on a clean run and flags a corrupted table."""
    import validate_table as V
    from pyspark.sql import functions as F

    from corsearch_project_spark.plans.extract_pipeline import ExtractConfig, run_extract

    out = os.path.join(str(tmp_path), "vout")
    run_extract(spark, ExtractConfig(input_path=pages_src, output_path=out, run_id="VT", buckets=8))
    rep = V.validate_table(
        spark, os.path.join(out, "extracted"), os.path.join(out, "lineage"), "VT"
    )
    assert rep["ok"] and rep["buckets_present"] == 8 and rep["docs"] == 60

    # corrupt: append a duplicate-url row with a wrong digest into bucket 0
    ext = spark.read.parquet(os.path.join(out, "extracted"))
    victim = ext.limit(1)
    bad = victim.withColumn("text_sha256", F.lit("0" * 64)).withColumn(
        "url_bucket", F.lit(0)
    )
    bad.write.mode("append").partitionBy("url_bucket").parquet(
        os.path.join(out, "extracted")
    )
    rep2 = V.validate_table(
        spark, os.path.join(out, "extracted"), os.path.join(out, "lineage"), "VT"
    )
    assert not rep2["ok"]
    checks = {f["check"] for f in rep2["failures"]}
    assert "url_uniqueness" in checks
    assert "lineage_reconciliation" in checks
    assert "digest_integrity" in checks


def test_audit_pages_cli(spark, pages_src, tmp_path, capsys):
    """audit_pages: host-keyed QA census over a raw pages table.

    Totals must reconcile with the per-host parquet, the html gate must
    count every generated page (the fixture corpus is HTML+PDF mixed),
    and a second run over the same input is deterministic."""
    import audit_pages as A
    from pyspark.sql import functions as F

    out = os.path.join(str(tmp_path), "audit")
    rc = A.main(["--input", pages_src, "--output", out])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # gen_pages(60) emits 63 raw rows: 60 urls + 3 re-crawl duplicates;
    # the audit is over the RAW table, so it counts all 63
    assert rep["pages"] == 63
    assert 0 < rep["hosts"] <= 63
    assert 0 <= rep["html_pages"] <= rep["pages"]
    assert rep["soft404_pages"] <= rep["pages"]

    hosts = spark.read.parquet(rep["audit_path"])
    row = hosts.selectExpr(
        "sum(n_pages) p", "sum(n_html) h", "sum(n_jsonld) j",
        "sum(n_tables) t", "sum(n_img_refs) r"
    ).head()
    assert int(row["p"]) == rep["pages"]
    assert int(row["h"]) == rep["html_pages"]
    assert int(row["j"]) == rep["jsonld_blocks"]
    assert int(row["t"]) == rep["tables"]
    assert int(row["r"]) == rep["image_refs"]
    # every host row is internally consistent
    bad = hosts.filter(
        (F.col("n_html") > F.col("n_pages"))
        | (F.col("n_soft404") > F.col("n_pages"))
        | (F.col("n_mojibake") > F.col("n_pages"))
        | (F.col("n_dated") > F.col("n_pages"))
        | (F.col("n_img_assets") > F.col("n_img_refs"))
        | (F.col("n_img_offsite") > F.col("n_img_assets"))
    ).count()
    assert bad == 0

    rc2 = A.main(["--input", pages_src, "--output", out + "2"])
    assert rc2 == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rep.pop("audit_path"), rep2.pop("audit_path")
    assert rep == rep2


def test_audit_pages_nonzero_features(spark, tmp_path, capsys):
    """gen_pages HTML carries no JSON-LD/tables/images, so the CLI test
    above exercises only zero paths; this arm feeds hand-built pages and
    pins every census column to its known value."""
    import audit_pages as A

    rows = [
        # 2 jsonld blocks, 1 table (2 rows), 1 onsite + 1 offsite img, dated
        ("https://a.example.com/2024/03/post",
         '<html><head><script type="application/ld+json">'
         '{"@type":"Article","datePublished":"2024-03-05"}</script>'
         '<script type="application/ld+json">{"@type":"Org"}</script>'
         '</head><body><table><tr><td>x</td></tr><tr><td>y</td></tr>'
         '</table><img src="/i.png"><img src="https://cdn.other.com/j.png">'
         "</body></html>",
         "real body text " * 20),
        # soft-404 page, no structure
        ("https://a.example.com/gone",
         "<html><body>404 page not found</body></html>", "404 not found"),
        # PDF container: markup probes must be gated out
        ("https://b.example.com/doc.pdf", "%PDF-1.4 fake", "pdf text"),
    ]
    src = os.path.join(str(tmp_path), "pages")
    spark.createDataFrame(
        [(u, h.encode(), t) for u, h, t in rows], "url string, html binary, text string"
    ).write.parquet(src)

    out = os.path.join(str(tmp_path), "audit")
    rc = A.main(["--input", src, "--output", out])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pages"] == 3 and rep["hosts"] == 2
    assert rep["html_pages"] == 2          # the %PDF- row is gated out
    assert rep["jsonld_blocks"] == 2
    assert rep["tables"] == 1
    assert rep["dated_pages"] == 1
    assert rep["soft404_pages"] == 1
    assert rep["image_refs"] == 2
    assert rep["image_assets"] == 2

    hosts = {r["host"]: r for r in spark.read.parquet(rep["audit_path"]).collect()}
    a = hosts["a.example.com"]
    assert a["n_table_rows"] == 2
    assert a["n_img_offsite"] == 1
    assert a["max_pub_date"] in ("2024-03-05", "2024-03-01")
