"""Staging scaffolding hardening: logic fingerprints, atomic publish
recovery, cross-process locking, and durable-gate validation/recovery."""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from bioclip_vector_db_spark.streaming.staging import (
    _publish_atomically,
    durable_stream_gate,
    logic_token,
    process_lock,
    staged_feed,
)


def _make_src(tmp_path, name="src.parquet"):
    p = str(tmp_path / name)
    pq.write_table(pa.table({"x": list(range(10))}), p)
    return p


# --- logic_token -----------------------------------------------------------


def test_logic_token_sees_closure_cells():
    def make(n):
        def splits(tbl):
            return tbl[:n]

        return splits

    assert logic_token(make(3)) == logic_token(make(3))
    assert logic_token(make(3)) != logic_token(make(4))


def test_logic_token_sees_constant_globals():
    ns1 = {"LIMIT": 5}
    ns2 = {"LIMIT": 7}
    src = "def f(t):\n    return t[:LIMIT]\n"
    exec(src, ns1)
    exec(src, ns2)
    assert logic_token(ns1["f"]) != logic_token(ns2["f"])
    ns3 = {"LIMIT": 5}
    exec(src, ns3)
    assert logic_token(ns1["f"]) == logic_token(ns3["f"])


def test_logic_token_sees_bytecode_and_plain_values():
    def f(t):
        return t + 1

    def g(t):
        return t + 2

    assert logic_token(f) != logic_token(g)
    assert logic_token("1 hour") != logic_token("2 hours")
    assert logic_token(f, "1 hour") == logic_token(f, "1 hour")


def test_logic_token_skips_address_reprs():
    class Opaque:
        pass

    o = Opaque()  # repr carries a 0x address — must not thrash the token
    ns = {"HELPER": o}
    exec("def f(t):\n    return HELPER\n", ns)
    t1 = logic_token(ns["f"])
    ns["HELPER"] = Opaque()
    assert logic_token(ns["f"]) == t1


# --- _publish_atomically ---------------------------------------------------


def test_publish_reuses_matching_stamp(tmp_path):
    out = str(tmp_path / "feed")
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "data"), "w") as fh:
            fh.write("v1")

    assert _publish_atomically(build, out, "stamp1") == out
    assert _publish_atomically(build, out, "stamp1") == out
    assert len(calls) == 1


def test_publish_replaces_stale_and_verifies(tmp_path):
    out = str(tmp_path / "feed")

    def build_v1(d):
        with open(os.path.join(d, "data"), "w") as fh:
            fh.write("v1")

    def build_v2(d):
        with open(os.path.join(d, "data"), "w") as fh:
            fh.write("v2")

    _publish_atomically(build_v1, out, "stamp1")
    _publish_atomically(build_v2, out, "stamp2")
    with open(os.path.join(out, "data")) as fh:
        assert fh.read() == "v2"
    with open(os.path.join(out, "_STAGED")) as fh:
        assert fh.read() == "stamp2"


def test_staged_feed_rekeys_on_split_logic_change(tmp_path):
    src = _make_src(tmp_path)

    def make(n):
        def splits(tbl):
            yield "f0", tbl[:n]

        return splits

    d1 = staged_feed(src, "bvds_test_feed", make(3))
    d2 = staged_feed(src, "bvds_test_feed", make(4))
    d3 = staged_feed(src, "bvds_test_feed", make(3))
    try:
        assert d1 != d2  # closure value change -> new feed dir
        assert d1 == d3  # same logic -> cached
        assert pq.read_table(os.path.join(d2, "f0.parquet")).num_rows == 4
    finally:
        import shutil

        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


# --- process_lock ----------------------------------------------------------


def test_process_lock_excludes_second_holder(tmp_path):
    import fcntl

    path = str(tmp_path / "lk")
    with process_lock(path):
        fh = open(path, "a+")
        try:
            try:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                held = True
            else:
                held = False
                fcntl.flock(fh, fcntl.LOCK_UN)
        finally:
            fh.close()
    assert held
    # Released after the context exits.
    fh = open(path, "a+")
    fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    fcntl.flock(fh, fcntl.LOCK_UN)
    fh.close()


# --- durable_stream_gate ---------------------------------------------------


def _gate_dirs(prefix):
    return set(glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}_*")))


def test_durable_gate_fresh_reuse_and_logic_rekey(tmp_path):
    src = _make_src(tmp_path)
    import shutil

    before = _gate_dirs("bvds_test_gate")
    try:
        with durable_stream_gate("bvds_test_gate", src, logic=("v1",)) as (d1, fresh1):
            assert fresh1
        with durable_stream_gate("bvds_test_gate", src, logic=("v1",)) as (d2, fresh2):
            assert d2 == d1 and not fresh2
        with durable_stream_gate("bvds_test_gate", src, logic=("v2",)) as (d3, fresh3):
            assert d3 != d1 and fresh3
        # Source change (mtime) -> fresh again on the same key.
        os.utime(src, (1, 1))
        with durable_stream_gate("bvds_test_gate", src, logic=("v1",)) as (d4, fresh4):
            assert d4 == d1 and fresh4
    finally:
        for d in _gate_dirs("bvds_test_gate") - before:
            shutil.rmtree(d, ignore_errors=True)
            try:
                os.unlink(f"{d}.lock")
            except OSError:
                pass


def test_durable_gate_validate_failure_rebuilds(tmp_path):
    src = _make_src(tmp_path)
    import shutil

    before = _gate_dirs("bvds_test_gatev")
    try:
        with durable_stream_gate("bvds_test_gatev", src) as (d, fresh):
            assert fresh
            with open(os.path.join(d, "payload"), "w") as fh:
                fh.write("x")
        with durable_stream_gate(
            "bvds_test_gatev", src, validate=lambda p: os.path.exists(f"{p}/payload")
        ) as (d2, fresh2):
            assert d2 == d and not fresh2
        with durable_stream_gate(
            "bvds_test_gatev", src, validate=lambda p: False
        ) as (d3, fresh3):
            assert d3 == d and fresh3
            assert not os.path.exists(os.path.join(d3, "payload"))  # wiped
    finally:
        for d in _gate_dirs("bvds_test_gatev") - before:
            shutil.rmtree(d, ignore_errors=True)
            try:
                os.unlink(f"{d}.lock")
            except OSError:
                pass


def test_ingest_gate_recovers_from_desynced_tables(spark, sf_dir, duck):
    """ADVICE recovery path: a crash between append_to_index's corpus and
    id_mapping writes desyncs the durable index; the gate's validator must
    detect the mismatch on reuse and rebuild, keeping the query
    oracle-exact."""
    from .conftest import assert_matches_oracle
    from bioclip_vector_db_spark.plans.registry import (
        ORACLES,
        QUERIES,
        load_all_plans,
    )
    from bioclip_vector_db_spark.streaming.ingest import _index_consistent

    load_all_plans()
    q, oracle = QUERIES["streaming_index_ingest"], ORACLES["streaming_index_ingest"]
    q(spark, sf_dir).count()  # ensure the durable dir exists
    # Find the gate dir and simulate the partial-write crash: drop one
    # id_mapping partition's files so corpus > id_mapping.
    dirs = [
        d
        for d in glob.glob(os.path.join(tempfile.gettempdir(), "bvds_stream_ingest_*"))
        if os.path.isdir(d) and os.path.isdir(os.path.join(d, "id_mapping"))
    ]
    assert dirs, "durable ingest dir not found"
    corrupted = 0
    for d in dirs:
        files = glob.glob(os.path.join(d, "id_mapping", "partition_id=*", "*.parquet"))
        if files:
            os.unlink(files[0])
            corrupted += 1
            assert not _index_consistent(spark, d)
    assert corrupted
    spark.catalog.clearCache()
    assert_matches_oracle(q(spark, sf_dir), duck, oracle)


def test_durable_gate_reaps_stale_siblings(tmp_path):
    """A logic change re-keys the gate dir; the old dir must be reaped on
    the next gate entry instead of leaking a checkpoint tree per edit —
    unless a concurrent process holds its lock."""
    import fcntl

    src = _make_src(tmp_path)
    import shutil

    before = _gate_dirs("bvds_test_gater")
    try:
        with durable_stream_gate("bvds_test_gater", src, logic=("v1",)) as (d1, _):
            pass
        with durable_stream_gate("bvds_test_gater", src, logic=("v2",)) as (d2, _):
            assert not os.path.exists(d1)  # v1's tree reaped
        # A held lock protects a sibling from reaping.
        fh = open(f"{d2}.lock", "a+")
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            with durable_stream_gate("bvds_test_gater", src, logic=("v3",)) as (d3, _):
                assert os.path.exists(d3)
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)
            fh.close()
        assert os.path.exists(d2)  # survived: its lock was held
    finally:
        for d in _gate_dirs("bvds_test_gater") - before:
            shutil.rmtree(d, ignore_errors=True)
            try:
                os.unlink(f"{d}.lock")
            except OSError:
                pass


def test_logic_token_canonicalizes_sets():
    """Set iteration order varies with hash randomization across
    processes; the token must not (a thrashing token rebuilds the durable
    gate every run). Same set content -> same token regardless of
    insertion order."""
    ns1 = {"KEEP": {"b", "a", "c"}}
    ns2 = {"KEEP": {"c", "a", "b"}}
    src = "def f(t):\n    return KEEP\n"
    exec(src, ns1)
    exec(src, ns2)
    assert logic_token(ns1["f"]) == logic_token(ns2["f"])
    ns3 = {"KEEP": {"a", "b"}}
    exec(src, ns3)
    assert logic_token(ns1["f"]) != logic_token(ns3["f"])


def test_logic_token_frozenset_code_constant_is_hashseed_stable():
    """``x in {'a','b'}`` compiles its literal to a frozenset CODE
    CONSTANT whose repr order depends on hash randomization — a plain
    repr would silently re-key (and reap) durable gate dirs across
    processes. The token must be identical under different
    PYTHONHASHSEEDs."""
    import subprocess
    import sys

    prog = (
        "from bioclip_vector_db_spark.streaming.staging import logic_token\n"
        "def f(x):\n"
        "    return x in {'alpha', 'beta', 'gamma', 'delta', 'epsilon'}\n"
        "print(logic_token(f))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tokens = set()
    for seed in ("1", "42", "1234"):
        env = os.environ | {"PYTHONHASHSEED": seed}
        r = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            env=env,
            cwd=repo,
        )
        assert r.returncode == 0, r.stderr
        tokens.add(r.stdout.strip())
    assert len(tokens) == 1, tokens


def test_stable_repr_recurses_containers():
    """Tuples/lists/dicts CONTAINING sets must canonicalize the nested
    set order too — code constants are often tuples with frozensets."""
    from bioclip_vector_db_spark.streaming.staging import _stable_repr

    a = _stable_repr((frozenset({"b", "a"}), 1, ["x", {"k": {"z", "y"}}]))
    b = _stable_repr((frozenset({"a", "b"}), 1, ["x", {"k": {"y", "z"}}]))
    assert a == b
    assert "'a', 'b'" in a and "'y', 'z'" in a
    assert _stable_repr((1,)) == "(1,)"  # 1-tuple round-trips


def test_logic_token_distinguishes_none_global_from_missing():
    """A module global flipping to/from None is a LOGIC change and must
    re-key the gate; a name the module never defines must not."""
    src = "def f():\n    return KEEP\n"
    ns_missing: dict = {}
    ns_none: dict = {"KEEP": None}
    ns_val: dict = {"KEEP": 3}
    for ns in (ns_missing, ns_none, ns_val):
        exec(src, ns)
    assert logic_token(ns_none["f"]) != logic_token(ns_missing["f"])
    assert logic_token(ns_none["f"]) != logic_token(ns_val["f"])
    ns_none2: dict = {"KEEP": None}
    exec(src, ns_none2)
    assert logic_token(ns_none["f"]) == logic_token(ns_none2["f"])


def test_logic_token_keeps_str_globals_containing_0x():
    """The address-repr heuristic must never swallow a STRING global: a
    str legitimately containing '0x' is a stable constant whose change
    must re-key the gate (ADVICE r6: the old heuristic dropped any repr
    containing '0x', str included)."""
    src = "def f():\n    return MAGIC\n"
    ns1: dict = {"MAGIC": "prefix_0xdead"}
    ns2: dict = {"MAGIC": "prefix_0xbeef"}
    for ns in (ns1, ns2):
        exec(src, ns)
    assert logic_token(ns1["f"]) != logic_token(ns2["f"])


def test_append_state_caches_do_not_thrash_gate_token():
    """append_to_index keeps per-index driver state (corpus schema,
    next-faiss_id map, centroid count, write generation) in one record
    reached through accessor functions: if the append body or the
    _single_writer wrapper named the record dict directly, logic_token
    would fold its contents (tempdir paths, per-write generation tokens)
    and re-key the durable ingest gate on every write — turning every
    restart into a cold rebuild."""
    from pyspark.sql import types as T

    from bioclip_vector_db_spark.operators import indexing as ix

    t1 = logic_token(ix.append_to_index)
    ix._set_append_state(
        "/tmp/fake_dir_a", ix._AppendState("deadbeef-token", T.StructType(), {0: 7}, 2)
    )
    try:
        t2 = logic_token(ix.append_to_index)
    finally:
        ix.invalidate_append_state("/tmp/fake_dir_a")
    assert t1 == t2
