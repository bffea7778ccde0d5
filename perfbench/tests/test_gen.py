"""The generator: byte-identical per seed, different across seeds, and
its DuckDB twins agree with the package's oracles."""

import hashlib
import os

import pytest

from legend_community_delta_spark import demo
from perfbench import check, gen


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, names in os.walk(path):
        for name in sorted(names):
            full = os.path.join(root, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(seed: int, out: str) -> dict:
    return {
        "tpch": gen.write_tpch(seed, os.path.join(out, "tpch"), n_orders=400, n_parts=100),
        "ingest": gen.write_ingest(seed, os.path.join(out, "ingest"),
                                   n_batches=3, batch_rows=500)["injected"],
        "corpus": gen.write_corpus(seed, os.path.join(out, "corpus"),
                                   n_docs=60)["planted_pairs"],
        "pool": gen.serve_requests(seed),
        "sequence": gen.request_sequence(seed, gen.serve_requests(seed), 50),
    }


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    c = _generate(8, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a == b
    da, dc = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "c"))
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)
    assert a["pool"] != c["pool"] and a["sequence"] != c["sequence"]


def test_ingest_keys_unique_and_corrections_change_rows(tmp_path):
    props = gen.write_ingest(3, str(tmp_path), n_batches=4, batch_rows=1000)
    con = check.connect()
    files = ", ".join(f"'{p}'" for p in props["batches"])
    n, keys = con.execute(
        f"SELECT count(*), count(DISTINCT (orderKey, lineNumber)) "
        f"FROM read_json_auto([{files}])").fetchone()
    assert n == keys == props["rows"]
    fixed = con.execute(
        f"SELECT count(*) FROM read_json_auto('{props['corrections']}') "
        "WHERE quantity <= 50").fetchone()[0]
    assert fixed == 0  # every correction differs from the row it replaces


@pytest.mark.parametrize("seed", [1, 2])
def test_service_twins_agree_with_demo_oracles(tmp_path, seed):
    gen.write_tpch(seed, str(tmp_path))
    con = check.connect(str(tmp_path), ("orders", "lineitem", "part"))
    for path, twin in gen.SERVICE_TWINS.items():
        assert check.duck_rows(con, twin) == check.duck_rows(
            con, demo.ORACLES[gen.SERVICES[path]]), path


def test_lambda_twins_run_and_return_rows(tmp_path):
    gen.write_tpch(5, str(tmp_path))
    con = check.connect(str(tmp_path), ("orders", "lineitem", "part"))
    for req in gen.serve_requests(5):
        if req.twin_sql is not None:
            assert check.duck_rows(con, req.twin_sql)[1], req.name
