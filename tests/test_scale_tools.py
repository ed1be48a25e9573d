"""The scale tools' two shared pieces, without Spark: the replica
builder (``scale_probe.replicate``) and the SCALING.md writer
(``scale_probe.upsert_scaling``)."""

from __future__ import annotations

import os
import shutil
from collections import Counter
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from reduction_dask_spark.sources import TABLES
from tools import report
from tools.scale_probe import KEY_COLS, MARKER, OFFSET, replicate, upsert_scaling

from .conftest import REPO, SF_SMALL

SF_BIG = "/root/testdata/sf0.1"


def _copy_base(dst: Path) -> str:
    """A writable copy of the sf0.001 tables."""
    dst.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_SMALL}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def _listing(root: str) -> dict[str, tuple[int, int, int]]:
    """(inode, size, mtime_ns) of every entry under ``root``, links
    not followed."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        for f in dirs + files:
            st = os.lstat(os.path.join(dirpath, f))
            out[os.path.relpath(os.path.join(dirpath, f), root)] = (
                st.st_ino, st.st_size, st.st_mtime_ns,
            )
    return out


def test_rewritten_base_table_is_rebuilt(tmp_path):
    base = _copy_base(tmp_path / "base")
    dest = str(tmp_path / "x2")
    assert replicate(base, dest, 2, ["documents"])
    docs = pq.read_table(f"{base}/documents.parquet")
    pq.write_table(docs.slice(0, docs.num_rows - 7), f"{base}/documents.parquet")
    assert replicate(base, dest, 2, ["documents"])
    assert pq.read_metadata(f"{dest}/documents.parquet").num_rows == 2 * (docs.num_rows - 7)


def test_leftover_tmp_is_not_reused(tmp_path):
    dest = str(tmp_path / "x2")
    assert replicate(SF_SMALL, dest, 2, ["documents"])
    # a build that died after writing its marker but before the rename
    os.rename(dest, dest + ".tmp")
    Path(dest + ".tmp", "documents.parquet").write_bytes(b"torn")
    assert replicate(SF_SMALL, dest, 2, ["documents"])
    assert not os.path.exists(dest + ".tmp")
    n = pq.read_metadata(f"{SF_SMALL}/documents.parquet").num_rows
    assert pq.read_metadata(f"{dest}/documents.parquet").num_rows == 2 * n


def test_second_call_writes_nothing(tmp_path):
    dest = str(tmp_path / "x3")
    assert replicate(SF_SMALL, dest, 3, ["orders", "lineitem"])
    before = _listing(dest)
    assert not replicate(SF_SMALL, dest, 3, ["lineitem", "orders"])
    assert _listing(dest) == before
    # another n is another replica
    assert replicate(SF_SMALL, dest, 2, ["orders", "lineitem"])


def test_keys_shift_by_replica_schema_kept_and_nodup_keeps_tokens(tmp_path):
    dest = str(tmp_path / "x3")
    replicate(SF_SMALL, dest, 3, ["orders", "documents"], nodup=True)
    assert set(os.listdir(dest)) == {f"{t}.parquet" for t in TABLES} | {MARKER}
    for t in TABLES:
        out, src = f"{dest}/{t}.parquet", f"{SF_SMALL}/{t}.parquet"
        if t not in ("orders", "documents"):
            assert os.path.realpath(out) == os.path.realpath(src)
            continue
        assert not os.path.islink(out)
        assert pq.read_schema(out).equals(pq.read_schema(src), check_metadata=True)
        base, rep = pq.read_table(src), pq.read_table(out)
        n = base.num_rows
        assert rep.num_rows == 3 * n
        for k in range(3):
            part = rep.slice(k * n, n)
            for col in base.column_names:
                if col in KEY_COLS[t]:
                    assert pc.subtract(part[col], base[col]).to_pylist() == [k * OFFSET] * n
                elif col != "text":
                    assert part[col].equals(base[col])
    texts = pq.read_table(f"{dest}/documents.parquet")["text"].to_pylist()
    base_texts = pq.read_table(f"{SF_SMALL}/documents.parquet")["text"].to_pylist()
    n = len(base_texts)
    assert texts[:n] == base_texts
    for k in (1, 2):
        rep_texts = texts[k * n:(k + 1) * n]
        assert all(
            Counter(a.split(" ")) == Counter(b.split(" "))
            for a, b in zip(rep_texts, base_texts)
        )
        assert sum(a != b for a, b in zip(rep_texts, base_texts)) > 0.9 * n


def test_offset_keeps_residues_and_clears_sf01_keys():
    assert OFFSET % 20 == 0
    for t, keys in KEY_COLS.items():
        if keys:
            table = pq.read_table(f"{SF_BIG}/{t}.parquet", columns=list(keys))
            for k in keys:
                assert pc.max(table[k]).as_py() < OFFSET, (t, k)


def test_report_rows_upsert_leaves_every_other_line(tmp_path):
    md = tmp_path / "SCALING.md"
    shutil.copyfile(REPO / "SCALING.md", md)
    old = md.read_text().split("\n")
    rows = {
        name: report.row(name, [1.0 + i, 2.0, 3.0])
        for i, name in enumerate(report.SCALING_QUERIES)
    }
    upsert_scaling(report.HEADING, report.SECTION, list(rows.values()), md=md)
    new = md.read_text().split("\n")
    first_section = next(i for i, ln in enumerate(old) if ln.startswith("## "))
    assert len(new) == len(old)
    changed = [i for i, (a, b) in enumerate(zip(old, new)) if a != b]
    assert sorted(new[i] for i in changed) == sorted(rows.values())
    assert all(i < first_section for i in changed)
    assert all(old[i].split("|")[1].strip() in rows for i in changed)


def test_upsert_appends_missing_rows_and_sections(tmp_path):
    md = tmp_path / "S.md"
    text = (
        "# T\n\nintro\n\n| query | a |\n|---|---|\n| q1 | 1 (r10) |\n| q2 | 2 |\n"
        "\nnote\n\n## later\n\n| query | a |\n|---|---|\n| q1 | 9 |\n"
    )
    md.write_text(text)
    upsert_scaling("# T", [], ["| q2 | 5 |", "| q3 | 6 |"], md=md)
    assert md.read_text() == text.replace("| q2 | 2 |\n", "| q2 | 5 |\n| q3 | 6 |\n")
    upsert_scaling("## new ", ["## new ×2", "", "| query | a |", "|---|---|"], ["| q1 | 7 |"], md=md)
    assert md.read_text().endswith("| q1 | 9 |\n\n## new ×2\n\n| query | a |\n|---|---|\n| q1 | 7 |\n")
