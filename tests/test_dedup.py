"""X1/X2 dedup: oracle parity + structural invariants (bucketed plans,
survivor determinism, LSH candidate containment)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bioclip_vector_db_spark.operators import dedup
from bioclip_vector_db_spark.plans.registry import load_all_plans
from bioclip_vector_db_spark.sources.catalog import load_table

load_all_plans()

def test_exact_dedup_survivor_is_lowest_id(spark):
    df = spark.createDataFrame(
        [(5, "aaa"), (1, "aaa"), (3, "bbb"), (2, "aaa")], "doc_id long, text string"
    )
    out = {r.text: r.doc_id for r in dedup.exact_dedup(df).collect()}
    assert out == {"aaa": 1, "bbb": 3}


def test_near_dup_pairs_found_for_known_dups(spark, sf_dir):
    """Re-ingesting identical documents must always be caught: identical
    shingle sets -> identical signatures -> same bucket -> Jaccard 1.0."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copy = docs.filter(F.col("doc_id") < 20).withColumn("doc_id", F.col("doc_id") + 10000)
    pairs = dedup.near_dup_pairs(docs.unionByName(copy), 0.999)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert {(i, i + 10000) for i in range(20)} <= got


def test_lsh_candidates_never_all_pairs(spark, sf_dir):
    """No BroadcastNestedLoopJoin / CartesianProduct anywhere in the LSH
    plan — the round-1 quadratic-join regression guard."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = dedup.near_dup_pairs(docs, 0.8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_threshold_join_has_no_all_pairs_stage(spark, sf_dir):
    """The gated X4 plan must be bucketed end-to-end: every join an
    equi-join, no cross/nested-loop stage anywhere — the scale guarantee
    the exact all-pairs kernel cannot make."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = (
        dedup.embedding_threshold_join(emb, 0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_threshold_join_identical_vectors_always_found(spark, sf_dir):
    """Recall -> 1 as similarity -> 1: an identical pair agrees on every
    band, so re-ingested copies are always candidates."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copy = emb.filter(F.col("vec_id") < 10).withColumn("vec_id", F.col("vec_id") + 10000)
    out = dedup.embedding_threshold_join(emb.unionByName(copy), 0.999)
    got = {(r.a_id, r.b_id) for r in out.collect()}
    assert {(i, i + 10000) for i in range(10)} <= got


def test_simhash_identical_vectors_same_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copy = emb.filter(F.col("vec_id") < 10).withColumn("vec_id", F.col("vec_id") + 10000)
    out = dedup.embedding_near_dups(emb.unionByName(copy), 0.999)
    got = {(r.a_id, r.b_id): r.similarity for r in out.collect()}
    assert set(got) == {(i, i + 10000) for i in range(10)}
    assert all(abs(s - 1.0) < 1e-6 for s in got.values())


def test_near_dup_clusters_match_union_find(spark):
    """Property: the distributed min-label/pointer-jumping components
    equal a driver-side union-find on random pair graphs (chains, stars,
    singleton pairs, cycles all arise at these sizes)."""
    import random

    rng = random.Random(11)
    for trial in range(3):
        n = 60
        pairs = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randrange(10, 40))
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {
            x: find(x) for x in range(n) if any(x in p for p in pairs)
        }
        df = spark.createDataFrame(pairs, "a_id long, b_id long")
        got = {r.id: r.cluster_id for r in dedup.near_dup_clusters(df).collect()}
        assert got == want, f"trial {trial}"


def test_near_dup_clusters_chain_converges_fast(spark):
    """A 64-node path graph is the worst case for plain propagation
    (diameter 63); pointer jumping must collapse it in O(log n) rounds —
    max_rounds=10 suffices where plain min-propagation would need 63."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a_id long, b_id long"
    )
    got = {r.id: r.cluster_id for r in dedup.near_dup_clusters(pairs, max_rounds=10).collect()}
    assert got == {i: 0 for i in range(64)}


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set must broadcast (benchmark-sized vs a 100-TB
    corpus): no shuffle of the train side, no nested-loop join; and no
    eval doc may flag itself as contaminated train."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    train = docs.filter(~F.col("source").isin("src0", "src1")).select("doc_id", "text")
    ev = docs.filter(F.col("source").isin("src0", "src1")).select("doc_id", "text")
    out = dedup.decontaminate_ngrams(train, ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    eval_ids = {r.doc_id for r in ev.select("doc_id").collect()}
    flagged = {r.doc_id for r in out.collect()}
    assert flagged and not (flagged & eval_ids)


def test_decontaminate_matches_python_reference(spark):
    """Engine-independent check: planted shared trigrams between random
    train and eval docs must be found exactly — same distinct-shingle
    counts and first contaminating eval id as a direct Python scan."""
    import random

    rng = random.Random(37)
    vocab = [f"t{i}" for i in range(30)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 25)))

    train = [(i, doc()) for i in range(60)]
    ev = [(1000 + i, doc()) for i in range(15)]
    # Plant exact contamination: train doc 0 contains eval doc 1000's text.
    train[0] = (0, ev[0][1] + " filler tail words")

    def shingles(text):
        ws = [w for w in text.split(" ") if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    ev_sh = {}
    for eid, text in ev:
        for s in shingles(text):
            ev_sh.setdefault(s, set()).add(eid)
    want = {}
    for did, text in train:
        shared = {s for s in shingles(text) if s in ev_sh}
        if shared:
            want[did] = (
                len(shared),
                min(min(ev_sh[s]) for s in shared),
            )
    assert 0 in want  # the planted contamination is detectable

    got = {
        r.doc_id: (r.n_shared, r.first_eval_id)
        for r in dedup.decontaminate_ngrams(
            spark.createDataFrame(train, "doc_id long, text string"),
            spark.createDataFrame(ev, "doc_id long, text string"),
        ).collect()
    }
    assert got == want


def test_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """A boilerplate phrase shared by EVERY document (df >> cap) must be
    dropped from the exact Jaccard join's blocking — its bucket alone
    would otherwise form df² candidate pairs — while true near-dup pairs
    (selective shared shingles, df <= cap) keep recall. Results must
    match a Python set reference computed over the same capped universe."""
    from bioclip_vector_db_spark.operators.dedup import (
        SHINGLE_WIDTH,
        doc_shingles,
        jaccard_pairs,
    )

    hot = "all rights reserved worldwide"  # 4 words -> 2 shingles at width 3
    rows = []
    for i in range(120):
        body = f"unique alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"
        rows.append((2 * i, f"{hot} {body}"))
        rows.append((2 * i + 1, f"{hot} {body} extra"))  # near-dup of 2*i
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cap = 32
    out = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_pairs(df, 0.5, max_shingle_df=cap).collect()
    }
    # Python reference over the capped shingle universe.
    def shingles(text):
        t = [w for w in text.split(" ") if w]
        return {
            " ".join(t[i : i + SHINGLE_WIDTH])
            for i in range(len(t) - SHINGLE_WIDTH + 1)
        }

    sets = {d: shingles(t) for d, t in rows}
    from collections import Counter

    dfreq = Counter(s for ss in sets.values() for s in ss)
    capped = {d: {s for s in ss if dfreq[s] <= cap} for d, ss in sets.items()}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and capped[a] & capped[b]:
                j = round(
                    len(capped[a] & capped[b]) / len(capped[a] | capped[b]), 9
                )
                if j >= 0.5:
                    want[(a, b)] = j
    assert out == want
    assert len(out) == 120  # every planted near-dup pair survives the cap
    # The capped blocking relation itself must exclude the hot shingles.
    sh = doc_shingles(df)
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= cap)
        .select("shingle")
    )
    kept = sh.join(keep, "shingle", "left_semi")
    hot_rows = kept.filter(F.col("shingle").startswith("all rights")).count()
    assert hot_rows == 0


def test_duplicate_spans_planted_runs(spark):
    """Span detection must report EXACT maximal boundaries: a 20-token
    run shared by two docs at different offsets, a within-doc repeat, and
    a clean doc. Minimum match length 8 -> a shorter shared run (5
    tokens) must NOT be reported."""
    from bioclip_vector_db_spark.operators.dedup import (
        duplicate_spans,
        substring_dedup_stats,
    )

    run = " ".join(f"dup{i}" for i in range(20))  # 20-token duplicated run
    short = "s1 s2 s3 s4 s5"  # 5 tokens: below MIN_MATCH_TOKENS
    docs = [
        (1, f"a1 a2 a3 {run} a4 a5 {short}"),
        (2, f"b1 {run} b2 b3 b4 b5 b6 b7 {short} b8"),
        (3, f"c1 c2 {run} c3 {run} c4"),  # within-doc repeat of the run
        (4, "clean1 clean2 clean3 clean4 clean5 clean6 clean7 clean8"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = {
        r.doc_id: set()
        for r in df.collect()
    }
    for r in duplicate_spans(df).collect():
        spans[r.doc_id].add((r.span_start, r.span_end, r.span_tokens))
    # doc 1: run occupies tokens 4..23 (1-based; after 3 prefix tokens).
    assert spans[1] == {(4, 23, 20)}
    # doc 2: run occupies tokens 2..21.
    assert spans[2] == {(2, 21, 20)}
    # doc 3: two occurrences at 3..22 and 24..43 — separated by one token,
    # gap > 0 but the islands merge iff pos-prev <= width; here the two
    # runs' covers touch through the single 'c3' gap only if within 8
    # positions — starts 3 and 24, last dup-gram start of first run is
    # 3+20-8=15, next dup start 24, 24-15=9 > 8 -> two distinct spans.
    assert spans[3] == {(3, 22, 20), (24, 43, 20)}
    assert spans[4] == set()
    stats = {r.doc_id: (r.n_tokens, r.dup_tokens, r.keep_substring)
             for r in substring_dedup_stats(df).collect()}
    assert stats[4] == (8, 0, True)
    assert stats[1][1] == 20 and stats[1][2] is False  # 20/30 tokens dup
    assert stats[3] == (44, 40, False)


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    """Cleaning survivorship: the globally-first (doc_id, pos) occurrence
    of a duplicated run survives verbatim; every later occurrence's cover
    is cut; clean docs pass through byte-identical."""
    from bioclip_vector_db_spark.operators.dedup import remove_duplicate_spans

    run = " ".join(f"dup{i}" for i in range(12))
    docs = [
        (1, f"a1 a2 {run} a3"),          # first occurrence -> kept
        (2, f"b1 {run} b2"),              # later occurrence -> cut
        (3, f"{run}"),                     # doc IS the run -> fully cut
        (4, "clean tokens only here ok"),  # untouched
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.removed_tokens, r.clean_text)
           for r in remove_duplicate_spans(df).collect()}
    assert got[1] == (15, 0, f"a1 a2 {run} a3")
    assert got[2] == (14, 12, "b1 b2")
    assert got[3] == (12, 12, "")
    assert got[4] == (5, 0, "clean tokens only here ok")


def test_bloom_prefilter_matches_anti_join_and_bounds_fp(spark, sf_dir):
    """The bloom prefilter must be EXACTLY equivalent to the plain
    anti-join on is_new (no false negatives by construction — every
    stored id sets all its own bits), and its false-positive rate at the
    gate's sizing (m=4096, k=3) must stay in the designed band: nonzero
    enough that the verify path is exercised over fixture lifetimes is
    not required, but never above ~15%."""
    from pyspark.sql import functions as F

    from bioclip_vector_db_spark.operators.indexing import (
        BLOOM_HASHES,
        bloom_prefiltered_dedup,
    )
    from bioclip_vector_db_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    stored = emb.filter(F.col("vec_id") < 400).select("vec_id")
    fresh = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 50000).alias("vec_id")
    )
    incoming = emb.filter(F.col("vec_id") >= 300).select("vec_id").unionByName(fresh)
    ledger = {r.vec_id: r for r in bloom_prefiltered_dedup(incoming, stored).collect()}
    truth = {
        r.vec_id
        for r in incoming.join(stored, "vec_id", "left_anti").collect()
    }
    stored_ids = {r.vec_id for r in stored.collect()}
    for vid, row in ledger.items():
        assert row.is_new == (vid in truth), row  # exact anti-join parity
        if vid in stored_ids:
            assert row.might_contain, row  # no false negatives
    novel = [r for r in ledger.values() if r.vec_id not in stored_ids]
    fps = [r for r in novel if r.might_contain]
    assert len(fps) / len(novel) <= 0.15, (len(fps), len(novel))


def test_semantic_dedup_drops_exact_copies(spark, sf_dir):
    """An exact re-keyed copy of a vector has cosine 1 with its original
    and the identical centroid similarity, so the copy (higher vec_id ->
    worse exemplar rank) must always be dropped while the original's
    decision is unchanged; untouched vectors keep their baseline verdict."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id").between(100, 119)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    # Pin k: the auto rule (ceil(n/64)) would shift the cluster count when
    # the copies change n, which is correct behavior but not the property
    # under test (copy-dropping at identical clustering).
    base = {r.vec_id: r.kept for r in dedup.semantic_dedup(emb, k=8).collect()}
    out = {r.vec_id: r.kept for r in
           dedup.semantic_dedup(emb.unionByName(copies), k=8).collect()}
    for vid in range(100, 120):
        assert out[vid + 10_000] is False, vid  # the copy never survives
        assert out[vid] == base[vid], vid  # original's verdict unchanged
    assert sum(1 for k in out.values() if not k) >= sum(
        1 for k in base.values() if not k
    ) + 20


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    """Chunks tile each document: starts advance by the stride, the last
    chunk clamps at the end, consecutive chunks overlap by width-stride
    tokens, and concatenating chunk starts reconstructs the token count."""
    from bioclip_vector_db_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
        words,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    n_toks = {
        r.doc_id: r.n
        for r in docs.select("doc_id", F.size(words(F.col("text"))).alias("n")).collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunk_documents(docs).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = n_toks[doc_id]
        assert [c.start_token for c in chunks] == list(range(0, n, CHUNK_STRIDE))
        for c in chunks[:-1]:
            assert c.chunk_tokens == min(CHUNK_TOKENS, n - c.start_token)
        last = chunks[-1]
        assert last.start_token + last.chunk_tokens == min(
            n, last.start_token + CHUNK_TOKENS
        )
        assert all(len(c.chunk_text.split(" ")) == c.chunk_tokens for c in chunks)


def test_minhash_confusion_zero_pair_slice(spark):
    """An eval slice with no near-dup pairs at all (seen at sf0.1) must
    still produce one row with ZERO counts and NULL ratios — sum() over
    the empty full-outer join returns NULL (vs the oracle's count(*)=0),
    and ANSI 0/0 would throw without try_divide."""
    from bioclip_vector_db_spark.operators.dedup import minhash_confusion

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "red orange yellow green blue indigo violet colors"),
        ],
        "doc_id bigint, text string",
    )
    row = minhash_confusion(docs).collect()
    assert len(row) == 1
    r = row[0]
    assert (r.tp, r.fn, r.fp) == (0, 0, 0)
    assert r.recall is None and r.precision is None
