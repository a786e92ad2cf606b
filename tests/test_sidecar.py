"""The stats-sidecar contract of ``__spark_entry__``.

flagship_extract, full_report and full_report_agg are verified against a
per-doc stats table materialized under /tmp. Its oracle SQL names a
stable path, so editing extraction code must not move the oracle text;
the extraction-code version lives in a stamp file beside the table, and
a stale table is rebuilt through catalog's staging swap.
"""

import glob
import os
import shutil
import subprocess
import sys
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "readability_scanner_spark"

_PROBE = (
    "import hashlib, json, __spark_entry__ as e; "
    "print(hashlib.md5(json.dumps(e.oracle_sql(), sort_keys=True).encode()).hexdigest(), "
    "e._sidecar_version())"
)


def _probe(tree) -> list[str]:
    """(oracle-text digest, sidecar version) as a fresh interpreter in
    ``tree`` sees them."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=tree, capture_output=True, text=True, check=True
    )
    return out.stdout.split()[-2:]


def test_oracle_text_survives_an_extraction_edit(tmp_path):
    shutil.copy2(os.path.join(REPO, "__spark_entry__.py"), tmp_path)
    shutil.copytree(
        os.path.join(REPO, PKG), tmp_path / PKG, ignore=shutil.ignore_patterns("__pycache__")
    )
    with open(tmp_path / PKG / "extraction" / "readability.py", "a") as fh:
        fh.write("\n")
    digest, version = _probe(REPO)
    edited_digest, edited_version = _probe(tmp_path)
    assert edited_version != version  # the edit is one the stamp sees
    assert edited_digest == digest
    # the entry file shapes the sidecar's rows too (_scored_documents)
    with open(tmp_path / "__spark_entry__.py", "a") as fh:
        fh.write("\n")
    assert _probe(tmp_path)[1] != edited_version


@pytest.fixture
def tiny_sf(tmp_path):
    """A four-document sf dir with a unique name, so its sidecar path is
    one no other run uses; everything written beside it is removed."""
    sf = tmp_path / f"sf_sidecar_{uuid.uuid4().hex[:12]}"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
                "text": [
                    "The cat sat on the mat. It was warm.",
                    "<html><body><p>" + "Readable words in a paragraph. " * 12 + "</p></body></html>",
                    "Short one.",
                    "",
                ],
                "source": ["a", "a", "b", "b"],
            }
        ),
        sf / "documents.parquet",
    )
    final = entry._sidecar_path(str(sf))
    yield str(sf), final
    for path in glob.glob(final + "*"):
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)


def _mark(table: str) -> str:
    """Drop a marker file into the table dir; a rebuild swaps in a new
    dir, so the marker survives only when the table was reused."""
    marker = os.path.join(table, "_marker")
    open(marker, "w").close()
    return marker


def test_sidecar_rebuilds_only_when_stale(spark, tiny_sf):
    sf, final = tiny_sf
    stamp = final + ".version"
    version = entry._sidecar_version()

    assert entry._fullreport_sidecar(spark, sf) == final
    with open(stamp) as fh:
        assert fh.read() == version
    rows = spark.read.parquet(final).orderBy("doc_id").collect()
    assert [r.doc_id for r in rows] == [0, 1, 2, 3]
    assert [r.conv_id for r in rows] == ["a", "a", "b", "b"]

    # current stamp, table newer than the source: reused with no Spark
    # job at all (there is no session to run one on)
    marker = _mark(final)
    assert entry._fullreport_sidecar(None, sf) == final
    assert os.path.exists(marker)

    # a stamp from other extraction code rebuilds
    with open(stamp, "w") as fh:
        fh.write("v0000000000")
    entry._fullreport_sidecar(spark, sf)
    assert not os.path.exists(marker)
    with open(stamp) as fh:
        assert fh.read() == version

    # so does a missing stamp
    marker = _mark(final)
    os.remove(stamp)
    entry._fullreport_sidecar(spark, sf)
    assert not os.path.exists(marker)
    assert os.path.exists(stamp)

    # and a source newer than the table
    marker = _mark(final)
    later = time.time() + 60
    os.utime(os.path.join(sf, "documents.parquet"), (later, later))
    entry._fullreport_sidecar(spark, sf)
    assert not os.path.exists(marker)
    assert spark.read.parquet(final).count() == 4
