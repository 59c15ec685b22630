"""Property-based tests (hypothesis): invariants the golden cases can't
exhaust — parser round-trips on arbitrary well-formed captions, spec
expansion engine-equivalence, quantization error bounds."""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings, strategies as st

from bioclip_vector_db_spark.operators.embedding import _md5_embed
from bioclip_vector_db_spark.operators.relational import expand_partition_spec_df
from bioclip_vector_db_spark.operators.taxon import FULL_REGEX, OUT_COLS

_MARKERS = {"kingdom", "phylum", "class", "order", "family", "genus", "species", "with", "common", "name", "photo", "of", "a"}

_word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=3, max_size=8).filter(
    lambda w: w not in _MARKERS
)


@given(st.lists(_word, min_size=8, max_size=8))
@settings(max_examples=50, deadline=None)
def test_taxon_regex_roundtrips_wellformed_captions(words):
    """Any well-formed caption parses back to its 8 rank values — checked
    against the exact regex the Catalyst expression uses (Python re and
    Java regex agree on this pattern class)."""
    import re

    caption = (
        f"a photo of kingdom {words[0]} phylum {words[1]} class {words[2]} "
        f"order {words[3]} family {words[4]} genus {words[5]} "
        f"species {words[6]} with common name {words[7]}."
    )
    m = re.search(FULL_REGEX, caption)
    assert m is not None
    got = [(g or "").strip() for g in m.groups()]
    assert got == words


def expand_partition_spec(spec: str) -> list[int]:
    """The driver-side oracle for O15: ``"1,2,5-10"`` -> ``[1, 2, 5, 6,
    ..., 10]`` (sorted, deduped) — mirrors neighborhood_server.py:353-365."""
    out: set[int] = set()
    for token in spec.split(","):
        token = token.strip()
        if not token:
            continue
        if "-" in token:
            lo, hi = token.split("-", 1)
            out.update(range(int(lo), int(hi) + 1))
        else:
            out.add(int(token))
    return sorted(out)


@given(
    st.lists(
        st.one_of(
            st.integers(0, 99).map(str),
            st.tuples(st.integers(0, 50), st.integers(0, 49)).map(
                lambda t: f"{t[0]}-{t[0] + t[1]}"
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=20, deadline=None)
def test_partition_spec_expansion_properties(spark, tokens):
    """Sorted, deduped, and complete: the columnar expansion lists every
    range member exactly once regardless of token order/overlap
    (neighborhood_server.py:353-365 semantics). Each example runs a Spark
    job (about 0.5 s), hence fewer examples than the driver-only
    properties here."""
    spec = ",".join(tokens)
    got = [r.partition_id for r in expand_partition_spec_df(spark, spec).collect()]
    assert got == expand_partition_spec(spec)


@given(st.text(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_pseudo_embedding_unit_norm_and_deterministic(text):
    v = _md5_embed(text)
    assert len(v) == 8
    assert abs(math.fsum(x * x for x in v) - 1.0) < 1e-9
    assert v == _md5_embed(text)
    # and it is the md5-nibble kernel it claims to be
    h = hashlib.md5(text.encode()).hexdigest()
    raw = [int(c, 16) - 7.5 for c in h[:8]]
    n = math.sqrt(sum(x * x for x in raw))
    assert all(abs(a - b / n) < 1e-12 for a, b in zip(v, raw))


def _morton_py(a: int, b: int, bits: int = 8) -> int:
    key = 0
    for i in range(bits - 1, -1, -1):
        key += ((a >> i) & 1) * (1 << (2 * i + 1)) + ((b >> i) & 1) * (1 << (2 * i))
    return key


@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255), st.integers(0, 255))
@settings(max_examples=100, deadline=None)
def test_zorder_key_is_bijective_and_range_monotone(a1, b1, a2, b2):
    """The Morton interleave must be a bijection on (a, b) in [0,256)^2
    (no two cells share a zkey — the property that makes file-level
    zkey min/max ranges PRUNABLE per dimension), and fixing one
    dimension, the key must be strictly monotone in the other (so a
    single-dimension range predicate maps to zkey intervals)."""
    k1, k2 = _morton_py(a1, b1), _morton_py(a2, b2)
    assert (k1 == k2) == ((a1, b1) == (a2, b2))
    if a1 == a2 and b1 < b2:
        assert k1 < k2
    if b1 == b2 and a1 < a2:
        assert k1 < k2


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_pagerank_reference_conserves_mass(edges):
    """Python reference of pagerank_fixed's recurrence (pre-rounding):
    on an undirected graph where every vertex has degree >= 1 — always
    true when vertices are defined BY the edge set, as in
    pagerank_fixed — each iteration redistributes all rank, so total
    mass stays 1 (teleport + damped inflow). The Spark implementation
    differs only by the round-9 parity quantization (drift <= 5e-10 per
    vertex per iteration)."""
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    verts = sorted({s for s, _ in und})
    n = len(verts)
    deg = {v: sum(1 for s, _ in und if s == v) for v in verts}
    rank = {v: 1.0 / n for v in verts}
    for _ in range(3):
        inflow = {v: 0.0 for v in verts}
        for s, d in und:
            inflow[d] += rank[s] / deg[s]
        rank = {v: 0.15 / n + 0.85 * inflow[v] for v in verts}
        assert abs(sum(rank.values()) - 1.0) < 1e-9


@given(
    st.lists(
        st.tuples(
            # 2-dp money in [1.00, 120000.00] (TPC-H extendedprice range)
            st.integers(min_value=100, max_value=12_000_000),
            # 2-dp discount in [0.00, 0.10]
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_integer_revenue_recipe_equals_exact_decimal(rows):
    """The rank-cutoff revenue recipe (operators/tpch.py::_revenue_e4):
    sum(round(price*100) * round((1-disc)*100)) over DOUBLE inputs must
    equal the exact decimal sum of price*(1-disc) in 1e-4 units for any
    2-dp inputs, and the reported cent rounding ((e4+50) div 100) must
    equal decimal ROUND_HALF_UP — the claim both engines' SQL encodes."""
    from decimal import ROUND_HALF_UP, Decimal

    e4_sum = 0
    dec_sum = Decimal(0)
    for cents_i, disc_pct_i in rows:
        price = cents_i / 100.0  # the DOUBLE the parquet column holds
        disc = disc_pct_i / 100.0
        e4_sum += round(price * 100) * round((1 - disc) * 100)
        dec_sum += (Decimal(cents_i) / 100) * (1 - Decimal(disc_pct_i) / 100)
    assert e4_sum == int(dec_sum * 10_000)
    want_cents = int(
        dec_sum.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100
    )
    assert (e4_sum + 50) // 100 == want_cents
