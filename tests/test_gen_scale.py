"""artifacts/: the scale-data generator (gen_scale.py) keeps its
invariants, and every record the code cites still exists."""

from __future__ import annotations

import importlib.util
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(REPO, "artifacts")
COPIES = 3


def _gen_scale():
    spec = importlib.util.spec_from_file_location(
        "gen_scale", os.path.join(ARTIFACTS, "gen_scale.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _scan(d: str, table: str) -> str:
    p = os.path.join(d, f"{table}.parquet")
    return f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"


def _one(sql: str):
    return duckdb.connect().execute(sql).fetchone()


@pytest.fixture(scope="module")
def scaled(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scaled"))
    written = _gen_scale().build(spark, SF_SMOKE, dst, COPIES)
    return dst, written


def test_row_counts_scale_except_fixed_dims(scaled):
    dst, written = scaled
    gs = _gen_scale()
    assert set(written) == set(gs.TABLES)
    for t in gs.TABLES:
        n_src = _one(f"SELECT count(*) FROM {_scan(SF_SMOKE, t)}")[0]
        n_out = _one(f"SELECT count(*) FROM {_scan(dst, t)}")[0]
        want = n_src if t in gs.FIXED else COPIES * n_src
        assert n_out == written[t] == want, t


def test_key_ranges_disjoint_per_copy(scaled):
    """Copy k of every shifted key lies in [k*span, (k+1)*span) and,
    shifted back, is the base column exactly."""
    dst, _ = scaled
    gs = _gen_scale()
    domains = dict(gs.KEY_DOMAINS, vec=[("embeddings", "vec_id")])
    for cols in domains.values():
        span = 1 + max(
            _one(f"SELECT max({c}) FROM {_scan(SF_SMOKE, t)}")[0] for t, c in cols
        )
        for t, c in cols:
            base = duckdb.connect().execute(
                f"SELECT {c} FROM {_scan(SF_SMOKE, t)} ORDER BY 1 NULLS LAST"
            ).fetchall()
            for k in range(COPIES):
                got = duckdb.connect().execute(
                    f"SELECT {c} - {k * span} FROM {_scan(dst, t)} "
                    f"WHERE {c} // {span} = {k} ORDER BY 1 NULLS LAST"
                ).fetchall()
                assert got == [r for r in base if r[0] is not None], (t, c, k)


def test_orders_lineitem_join_scales(scaled):
    dst, _ = scaled
    q = (
        "SELECT count(*) FROM {o} o JOIN {l} l ON o.o_orderkey = l.l_orderkey"
    )
    n_src = _one(q.format(o=_scan(SF_SMOKE, "orders"), l=_scan(SF_SMOKE, "lineitem")))[0]
    n_out = _one(q.format(o=_scan(dst, "orders"), l=_scan(dst, "lineitem")))[0]
    assert n_src > 0 and n_out == COPIES * n_src


def test_embedding_cosines_preserved_within_copy(scaled):
    dst, _ = scaled

    def cosines(t: pa.Table) -> np.ndarray:
        v = np.asarray(t["embedding"].combine_chunks().flatten(), np.float64)
        v = v.reshape(t.num_rows, -1)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v @ v.T

    src = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet")).sort_by("vec_id")
    out = pq.read_table(os.path.join(dst, "embeddings.parquet")).sort_by("vec_id")
    n = src.num_rows
    want = cosines(src)
    for k in range(COPIES):
        copy = out.slice(k * n, n)
        assert np.array_equal(
            np.asarray(copy["vec_id"]) % (np.asarray(src["vec_id"]).max() + 1),
            np.asarray(src["vec_id"]),
        )
        np.testing.assert_allclose(cosines(copy), want, atol=1e-6)
    if COPIES > 1:  # copies are not verbatim replicas of each other
        assert not np.allclose(
            np.asarray(out.slice(n, n)["embedding"].combine_chunks().flatten()),
            np.asarray(src["embedding"].combine_chunks().flatten()),
        )


def _documents_base(tmp_path, texts: list[str]) -> str:
    base = tmp_path / "base"
    base.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(base / "documents.parquet"),
    )
    return str(base)


def _dup_mass(d: str) -> int:
    return _one(
        f"SELECT count(*) - count(DISTINCT text) FROM {_scan(d, 'documents')}"
    )[0]


def test_document_dup_mass_scales_exactly(spark, scaled, tmp_path):
    dst, _ = scaled
    assert _dup_mass(dst) == COPIES * _dup_mass(SF_SMOKE)
    # the test data holds no exact duplicates, so plant some
    texts = ["red fox jumps over the lazy dog", "blue whale sings"] * 3 + [
        "green frog_pond croaks at dawn"
    ]
    base = _documents_base(tmp_path, texts)
    out = str(tmp_path / "out")
    _gen_scale().build(spark, base, out, COPIES, tables=("documents",))
    assert _dup_mass(base) == 4
    assert _dup_mass(out) == COPIES * 4
    # '_' splits tokens, so frog and pond both carry the copy suffix
    rows = duckdb.connect().execute(
        f"SELECT text, n_chars FROM {_scan(out, 'documents')} WHERE doc_id = 2 * 7 + 6"
    ).fetchall()
    assert rows == [("greenq2x frogq2x_pondq2x croaksq2x at dawnq2x", 45)]


def test_base_with_suffix_shaped_tokens_is_refused(spark, tmp_path):
    base = _documents_base(tmp_path, ["plain words here", "a token alphaq2x collides"])
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="q<k>x-shaped"):
        _gen_scale().build(spark, base, str(out), COPIES, tables=("documents",))
    assert not (out / "documents.parquet").exists()


def test_cited_artifact_records_exist():
    """Every artifacts/ record cited from the package, tests/, bench.py
    or sweep.py is still in the repo."""
    cite = re.compile(r"artifacts/\s*([A-Z][A-Za-z0-9_]*)(\.json|\.txt)?")
    sources = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "sweep.py")]
    for top in ("database_query_processor_spark", "tests"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            sources += [os.path.join(root, f) for f in files if f.endswith(".py")]
    cited = set()
    for path in sources:
        with open(path, encoding="utf-8") as fh:
            for name, ext in cite.findall(fh.read()):
                cited.add((name, ext))
    assert len(cited) >= 10
    missing = [
        name + ext
        for name, ext in sorted(cited)
        if not any(
            os.path.exists(os.path.join(ARTIFACTS, name + e))
            for e in ([ext] if ext else [".json", ".txt"])
        )
    ]
    assert not missing, missing
