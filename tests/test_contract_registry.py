"""The contract registry in ``__spark_entry__.py`` without Spark: every
query is registered once with its oracle beside it, the benchmark's
oracle patch points still resolve, and golden builds are all-or-nothing."""

from __future__ import annotations

import os
import uuid
import warnings

import pytest

from tests.conftest import SF_DIR

# An oracle is registered by a decorator on its query's definition, or
# names a helper defined just above it (the longest, q102's, 80 lines).
MAX_ORACLE_DISTANCE = 120


def test_each_query_sits_next_to_its_oracle():
    import __spark_entry__ as e

    assert len(e._CONTRACT) == 117
    far = {}
    for name, (query, oracle) in e._CONTRACT.items():
        assert query.__name__ == name
        q, o = query.__code__, oracle.__code__
        distance = abs(o.co_firstlineno - q.co_firstlineno)
        if o.co_filename != q.co_filename or distance > MAX_ORACLE_DISTANCE:
            far[name] = (q.co_firstlineno, o.co_filename, o.co_firstlineno)
    assert not far, f"oracles registered away from their queries: {far}"


def test_perfbench_patch_points_render_every_oracle(tmp_path, monkeypatch):
    """``perfbench.inputs.oracle_sql_for`` swaps every ``*_golden_path``
    helper, ``_ensure_media_fixtures`` and ``_lm_model_parquets`` on the
    module, then renders ``oracle_sql()``. Under those patches every
    oracle renders and no golden or fixture writer runs."""
    import __spark_entry__ as e
    from perfbench.inputs import oracle_sql_for

    def refuse(*args, **kwargs):
        raise AssertionError("an unpatched golden or fixture writer ran")

    monkeypatch.setattr(e, "_build_once", refuse)
    for module, names in {
        "ai_pdf_extraction_spark.oracle.xxh64": ["write_simhash_golden"],
        "ai_pdf_extraction_spark.oracle.bpe_naive": ["write_bpe_golden"],
        "ai_pdf_extraction_spark.oracle.lid_naive": ["write_lid_golden"],
        "ai_pdf_extraction_spark.oracle.run_reference": [
            "write_golden_parquet",
            "write_table_rows_golden",
        ],
        "ai_pdf_extraction_spark.operators.multimodal": [
            "write_media_table",
            "write_probe_golden",
            "write_decode_golden",
        ],
        "ai_pdf_extraction_spark.corpus": ["write_pages_parquet"],
        "ai_pdf_extraction_spark.sources.warc": ["write_warc"],
    }.items():
        for name in names:
            monkeypatch.setattr(f"{module}.{name}", refuse)
    monkeypatch.setenv("SPARK_GRAFT_CONTRACT_SF", SF_DIR)
    os.makedirs(tmp_path / "inputs")

    names = list(e.queries())
    sqls = oracle_sql_for(str(tmp_path), SF_DIR, names)
    assert list(sqls) == names and len(names) == 117
    assert all(isinstance(sql, str) and sql.strip() for sql in sqls.values())
    # the patches are undone: the module's own helpers are back
    assert e._lm_model_parquets.__module__ == "__spark_entry__"
    assert e._q23_golden_path.__module__ == "__spark_entry__"


def test_lm_model_export_rebuilds_after_a_torn_write(monkeypatch):
    """A writer that leaves a partial file and then raises must not
    leave that file where the next call trusts it: the next call
    rebuilds both model parquets and pyarrow reads them."""
    import pyarrow.parquet as pq

    import __spark_entry__ as e
    from ai_pdf_extraction_spark.operators import lm

    payload = {
        "bigrams": [["a", "b", 3], ["b", "c", 4]],
        "backoff": [["a", 1], ["c", 2]],
        "nonce": uuid.uuid4().hex,  # a fresh model digest, so fresh paths
    }
    monkeypatch.setattr(lm, "load_lm_payload", lambda: payload)
    real_write = pq.write_table
    calls = []

    def torn_second_write(table, where, *args, **kwargs):
        calls.append(where)
        if len(calls) == 2:
            with open(where, "wb") as fh:
                fh.write(b"PAR1\x00partial")
            raise OSError("killed mid-write")
        return real_write(table, where, *args, **kwargs)

    monkeypatch.setattr(pq, "write_table", torn_second_write)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            e._lm_model_parquets()
        except OSError:
            pass
    monkeypatch.setattr(pq, "write_table", real_write)
    bi_path, back_path, _ = e._lm_model_parquets()
    try:
        bigrams = pq.read_table(bi_path).to_pydict()
        assert bigrams == {"v": ["a", "b"], "w": ["b", "c"], "q": [3, 4]}
        assert pq.read_table(back_path).to_pydict() == {"w": ["a", "c"], "q": [1, 2]}
    finally:
        for path in (bi_path, back_path):
            if os.path.exists(path):
                os.remove(path)


@pytest.mark.parametrize("make_dir", [False, True])
def test_build_once_publishes_only_finished_builds(tmp_path, make_dir):
    import __spark_entry__ as e

    target = str(tmp_path / "golden")

    def failing(tmp):
        if make_dir:
            os.makedirs(tmp)
            tmp = os.path.join(tmp, "part-0")
        with open(tmp, "w") as fh:
            fh.write("partial")
        raise RuntimeError("writer failed")

    with pytest.warns(UserWarning, match="could not build"):
        assert e._build_once(target, failing) == target
    assert os.listdir(tmp_path) == []  # neither the target nor a temp is left

    def writer(tmp):
        with open(tmp, "w") as fh:
            fh.write("done")

    assert e._build_once(target, writer) == target
    assert open(target).read() == "done"
    assert e._build_once(target, failing) == target  # built once: no rewrite
    assert os.listdir(tmp_path) == ["golden"]


@pytest.mark.parametrize(
    "writer", ["simhash", "bpe", "lid", "extraction", "table_rows"]
)
def test_golden_writers_leave_the_rename_to_build_once(tmp_path, monkeypatch, writer):
    """A golden writer writes its path in place: the temp name and the
    one rename belong to ``_build_once``, so no writer renames."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ai_pdf_extraction_spark.corpus.generate import generate_pages
    from ai_pdf_extraction_spark.oracle import bpe_naive, lid_naive, run_reference, xxh64

    docs = str(tmp_path / "documents.parquet")
    texts = ["alpha bravo charlie delta echo", "le chat est sur la table"]
    pq.write_table(pa.table({"doc_id": pa.array([1, 2], pa.int64()), "text": texts}), docs)
    out = str(tmp_path / "golden.parquet")
    write = {
        "simhash": lambda: xxh64.write_simhash_golden(docs, out),
        "bpe": lambda: bpe_naive.write_bpe_golden(docs, out),
        "lid": lambda: lid_naive.write_lid_golden(docs, ["guten tag"], out),
        "extraction": lambda: run_reference.write_golden_parquet(
            out, generate_pages(3, seed=1)
        ),
        "table_rows": lambda: run_reference.write_table_rows_golden(
            out, generate_pages(3, seed=1)
        ),
    }[writer]
    renames = []
    for name in ("replace", "rename"):
        real = getattr(os, name)

        def record(src, dst, *args, _real=real, **kwargs):
            renames.append((src, dst))
            return _real(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, name, record)
    write()
    monkeypatch.undo()
    assert renames == []
    assert sorted(os.listdir(tmp_path)) == ["documents.parquet", "golden.parquet"]
    pq.read_table(out)
