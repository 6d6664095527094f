"""Dedup / similarity / text-analysis operators."""

import pyspark.sql.functions as F
import pytest

from mds_provider_spark.operators import dedup as D
from mds_provider_spark.operators import similarity as SIM
from mds_provider_spark.operators import text as TX

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "THE  quick   Brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1 after norm
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
    (4, "completely different content about spark execution engines and shuffles"),
    (5, "el gato y el perro en la casa de la abuela que vive en madrid"),
    (6, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark):
    got = D.exact_duplicates(_docs(spark), "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0].doc_ids == [1, 2] and got[0].exemplar_id == 1


def test_ngram_jaccard_ground_truth(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", 0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.7 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_near_dups(spark):
    got = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_dedup(
            _docs(spark), "doc_id", "text", threshold=0.5
        ).collect()
    }
    # must find the exact dup and the 1-word-changed near dup; never a
    # false positive (verify step is exact Jaccard)
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert all(p not in got for p in [(1, 4), (4, 5)])


def test_simhash_near_dups(spark):
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_dedup(_docs(spark), "doc_id", "text", max_hamming=6).collect()
    }
    assert got.get((1, 2)) == 0  # identical after normalization
    assert (1, 3) in got        # tiny hamming distance
    assert (1, 4) not in got and (1, 5) not in got


def test_simhash_is_pure_catalyst(spark):
    df = D.simhash_signatures(_docs(spark), "doc_id", "text")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _emb(spark, n=40, dim=8):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim)).astype("float32")
    base[1] = base[0] + 0.01 * rng.standard_normal(dim).astype("float32")  # near-dup pair
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    e = _emb(spark)
    q = e.where("vec_id < 3")
    got = SIM.brute_force_topk(e, q, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3]
        assert all(r.neighbor_id != qid for r in rows)
    # vectors 0 and 1 are near-identical -> each other's top neighbor
    assert by_q[0][0].neighbor_id == 1 and by_q[0][0].cosine_sim > 0.99
    assert by_q[1][0].neighbor_id == 0


def test_lsh_topk_recall_on_near_dup(spark):
    e = _emb(spark)
    got = SIM.lsh_topk(e, e.where("vec_id = 0"), k=3, n_planes=6).collect()
    assert any(r.neighbor_id == 1 for r in got)  # near-identical shares bucket


def test_embedding_near_duplicates(spark):
    got = SIM.embedding_near_duplicates(_emb(spark), threshold=0.99).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]


def test_resolve_duplicate_groups_transitive(spark):
    # chain 1~2, 2~3 plus isolated pair 10~11: groups must close transitively
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.group_id for r in D.resolve_duplicate_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_resolve_duplicate_groups_bridge_graph_not_split(spark):
    # Counterexample to the weaker "children ∩ roots = ∅" termination
    # test: one contraction round over {1-3, 3-4, 4-5, 2-5} yields edges
    # {(3,1),(4,1),(3,2),(5,2)} — a-side and b-side are disjoint but
    # child 3 points at TWO roots. A loop that stops there returns doc 3
    # in two groups and splits the single component {1,2,3,4,5} into
    # groups 1 and 2.
    pairs = spark.createDataFrame(
        [(1, 3), (3, 4), (4, 5), (2, 5)], "id_a long, id_b long"
    )
    rows = D.resolve_duplicate_groups(pairs).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, set()).add(r.group_id)
    # exactly one group row per doc, and the whole component roots at 1
    assert {d: sorted(g) for d, g in got.items()} == {
        1: [1], 2: [1], 3: [1], 4: [1], 5: [1]
    }
    assert len(rows) == 5


def test_deduplicate_keeps_exemplars_and_untouched_rows(spark):
    df = _docs(spark)
    pairs = D.minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5).select(
        "id_a", "id_b"
    )
    kept = sorted(r.doc_id for r in D.deduplicate(df, pairs, "doc_id").collect())
    # docs 1,2,3 are one near-dup group -> keep 1; 4,5,6 untouched
    assert kept == [1, 4, 5, 6]


def test_text_profile(spark):
    prof = {r.doc_id: r for r in TX.text_profile(_docs(spark), "doc_id", "text").collect()}
    assert prof[1].n_tokens == 14
    assert prof[2].n_tokens == 14          # whitespace collapsed
    assert prof[1].fingerprint == prof[2].fingerprint
    assert prof[1].lang_pred == "en"
    assert prof[5].lang_pred == "es"
    assert prof[6].n_tokens == 0 and prof[6].lang_pred == "und"
    assert prof[1].quality_score > prof[6].quality_score


def test_deterministic_sample_is_partition_independent(spark):
    docs = _docs(spark)
    a = sorted(r.doc_id for r in TX.deterministic_sample(docs, "doc_id", 50).collect())
    b = sorted(
        r.doc_id
        for r in TX.deterministic_sample(docs.repartition(5), "doc_id", 50).collect()
    )
    assert a == b
    # disjoint salts give (near-)independent subsets; same salt identical
    c = sorted(r.doc_id for r in TX.deterministic_sample(docs, "doc_id", 50).collect())
    assert a == c
    # monotone: a 100% sample is everything
    assert TX.deterministic_sample(docs, "doc_id", 100).count() == docs.count()


def test_length_histogram(spark):
    df = spark.createDataFrame(
        [("a", "x" * 50), ("b", "y" * 150), ("c", "z" * 160), ("d", None)],
        "k string, text string",
    )
    got = {r.min_chars: r.n_docs for r in TX.length_histogram(df, "text").collect()}
    assert got == {0: 1, 100: 2}


def test_winnowing_fingerprints_overlap(spark):
    df = _docs(spark).select(
        "doc_id", D.norm_text("text").alias("t")
    ).select("doc_id", TX.winnowing_fingerprints("t").alias("fp"))
    fps = {r.doc_id: set(r.fp) for r in df.collect()}
    inter_13 = len(fps[1] & fps[3]) / len(fps[1] | fps[3])
    inter_14 = len(fps[1] & fps[4]) / len(fps[1] | fps[4])
    assert inter_13 > 0.5 > inter_14


def test_winnowing_rows_equals_column_form(spark):
    docs = _docs(spark)
    col_form = {
        (r.doc_id, fp)
        for r in docs.select(
            "doc_id", TX.winnowing_fingerprints("text", portable=True).alias("fp")
        ).collect()
        for fp in r.fp
    }
    rows_form = {
        (r.doc_id, r.fingerprint)
        for r in TX.winnowing_fingerprint_rows(
            docs, "doc_id", "text", portable=True
        ).collect()
    }
    assert rows_form == col_form


def test_bpe_ish_token_count_portable_shape(spark):
    df = spark.createDataFrame([("ab12,cd! x",), ("",), ("hello world",)], "t string")
    got = [r.n for r in df.select(TX.bpe_ish_token_count("t").alias("n")).collect()]
    # 'ab','12',',','cd','!','x' / none / 'hello','world'
    assert got == [6, 0, 2]


def test_winnowing_guarantee_shared_substring(spark):
    """The winnowing guarantee (Schleimer et al.): any shared substring
    of length >= w + k - 1 forces at least one shared fingerprint."""
    shared = "the quick brown fox jumps over the lazy dog near the wall"
    rows = [
        (1, "AAAA xx " + shared + " yy BBBB"),
        (2, "completely different prefix " + shared + " different suffix"),
        (3, "nothing in common with either of the other documents at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in TX.winnowing_fingerprint_rows(df, "doc_id", "text").collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert fps[1] & fps[2]          # shared run -> shared fingerprint
    assert not (fps[1] & fps[3]) or len(fps[1] & fps[3]) < len(fps[1] & fps[2])


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, ["en", "es", "de"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = TX.stratified_sample(df, "doc_id", "lang", {"de": 100, "es": 50, "en": 0})
    got = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got.get("de") == 1000          # keep-all stratum is exact
    assert got.get("en") is None          # drop-all stratum is exact
    assert 400 <= got.get("es", 0) <= 600  # ~50%
    # partition-independent membership
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in TX.stratified_sample(
        df.repartition(7), "doc_id", "lang", {"de": 100, "es": 50, "en": 0}).collect())
    assert a == b


# ------------------------------------- decontamination + sequence packing


def test_contamination_detects_verbatim_leak(spark):
    bench = [(0, "the quick brown fox jumps over the lazy dog near the harbor wall")]
    train = [
        (100, "the quick brown fox jumps over the lazy dog near the harbor wall"),
        (101, "completely unrelated text about seven wizards brewing strong coffee"),
        (102, "another unrelated document with different words entirely today"),
    ]
    got = TX.contamination_pairs(
        spark.createDataFrame(train, "doc_id long, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
        "doc_id", "text", min_shared=2,
    ).collect()
    assert {(r.train_id, r.bench_id) for r in got} == {(100, 0)}


def test_contamination_shared_passage_guarantee(spark):
    """Winnowing guarantee: a shared substring of length >= k+window-1
    yields shared fingerprints even when prefix/suffix differ — a
    benchmark passage embedded mid-document cannot hide."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    bench = [(0, "benchmark question: " + shared)]
    train = [
        (1, "totally different prefix text " + shared + " and a different suffix"),
        (2, "zero vocab crossover: xylophones quartz jumbled wavy fudge"),
    ]
    got = TX.contamination_pairs(
        spark.createDataFrame(train, "doc_id long, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
        "doc_id", "text", min_shared=2,
    ).collect()
    assert {(r.train_id, r.bench_id) for r in got} == {(1, 0)}


def test_pack_token_budget_matches_pandas_replay(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(1 + (i * 7) % 40))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        TX.pack_token_budget(df, "doc_id", "text", budget=50, n_packers=4)
        .toPandas()
        .sort_values(["packer", "doc_id"])
        .reset_index(drop=True)
    )
    assert got["doc_id"].is_unique and len(got) == 200
    for packer, g in got.groupby("packer"):
        cum = g["n_tokens"].cumsum()
        expect = (cum - g["n_tokens"]) // 50
        assert list(g["pack_id"]) == [
            int(packer) * 1_000_000_000 + int(b) for b in expect
        ], packer
        # bins are monotone within a packer (contiguous chunking)
        assert list(g["pack_id"]) == sorted(g["pack_id"])


def test_pack_token_budget_partitioning_invariant(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(1 + (i * 3) % 25))) for i in range(120)]
    a = spark.createDataFrame(rows, "doc_id long, text string")
    b = a.repartition(7)
    pack = lambda d: sorted(
        map(tuple, TX.pack_token_budget(d, "doc_id", "text", 40, 4).collect())
    )
    assert pack(a) == pack(b)


def test_pack_token_budget_pluggable_token_counts(spark):
    # a precomputed (tokenizer-faithful) count column drives the packer:
    # identical docs with different external counts pack differently
    rows = [(i, "same text", 10 * (1 + i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_ext long")
    got = TX.pack_token_budget(
        df, "doc_id", "text", budget=35, n_packers=2,
        token_count_col="n_ext",
    ).toPandas().sort_values(["packer", "doc_id"]).reset_index(drop=True)
    assert set(got["n_tokens"]) == {10, 20, 30}  # external counts, not regex
    for packer, g in got.groupby("packer"):
        cum = g["n_tokens"].cumsum()
        expect = (cum - g["n_tokens"]) // 35
        assert list(g["pack_id"]) == [
            int(packer) * 1_000_000_000 + int(b) for b in expect
        ]


def test_pack_token_budget_null_external_count_raises(spark):
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", None)], "doc_id long, text string, n_ext long"
    )
    with pytest.raises(Exception, match="NULL or negative token count"):
        TX.pack_token_budget(
            df, "doc_id", "text", budget=10, n_packers=2,
            token_count_col="n_ext",
        ).collect()


def test_pack_token_budget_index_overflow_raises(spark, monkeypatch):
    """A packer stream exceeding budget * ID_SPAN tokens must RAISE, not
    silently alias pack_ids into the next packer's id space (round-4
    ADVICE). Shrink the span so a tiny corpus trips the guard."""
    monkeypatch.setattr(TX, "_PACK_IDX_SPAN", 3)
    rows = [(i, " ".join(f"w{j}" for j in range(10))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(Exception, match="pack index overflow"):
        TX.pack_token_budget(df, "doc_id", "text", budget=10, n_packers=1).collect()


def test_resolve_groups_long_chain_pointer_doubling(spark):
    """A 60-node chain (diameter 59 > default 20 rounds of plain
    propagation) must fully collapse to group 0 — pointer doubling gives
    O(log diameter) convergence (round-4 fix for silent under-merge)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.group_id for r in D.resolve_duplicate_groups(pairs).collect()}
    assert got == {i: 0 for i in range(60)}


def test_resolve_groups_nonconvergence_raises(spark, monkeypatch):
    """When max_iters genuinely can't cover the chain, the DISTRIBUTED
    resolver must RAISE, never return partially-merged groups (keep-one
    would silently retain extra exemplars). _LOCAL_MAX_EDGES=0 forces the
    contraction path — below the cutoff the driver-side union-find
    solves any graph exactly, so the guard is contraction-specific."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    monkeypatch.setattr(D, "_LOCAL_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.resolve_duplicate_groups(pairs, max_iters=2)


def test_resolve_groups_local_matches_distributed(spark, monkeypatch):
    """The hybrid cutoff (driver-side union-find up to _LOCAL_MAX_EDGES
    edges) must produce the identical (doc_id, group_id) mapping the
    star-contraction path produces — bridge graph, chains, and
    singleton pairs in one go."""
    edges = [(1, 3), (3, 4), (4, 5), (2, 5), (10, 11), (20, 21), (21, 22),
             (7, 7), (30, 31), (31, 30)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {(r.doc_id, r.group_id)
             for r in D.resolve_duplicate_groups(pairs).collect()}
    monkeypatch.setattr(D, "_LOCAL_MAX_EDGES", 0)
    dist = {(r.doc_id, r.group_id)
            for r in D.resolve_duplicate_groups(pairs).collect()}
    assert local == dist
    assert local == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                     (10, 10), (11, 10), (20, 20), (21, 20), (22, 20),
                     (30, 30), (31, 30)}


def test_resolve_groups_reliable_checkpoint_dir(spark, tmp_path, monkeypatch):
    """The cluster fault-tolerance knob: with reliable_checkpoint_dir
    set, every reliable_every-th round uses a RELIABLE checkpoint()
    (recomputable after executor loss), rounds between cuts keep their
    lineage (no localCheckpoint — a local truncation would make them
    unrecoverable and void the durability the directory buys), and a
    superseded checkpoint's files are swept once the next one lands.
    Results must be identical to the default mode."""
    import os

    ckpt = tmp_path / "rckpt"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    monkeypatch.setattr(D, "_LOCAL_MAX_EDGES", 0)  # the contraction path
    got = {
        r.doc_id: r.group_id
        for r in D.resolve_duplicate_groups(
            pairs, reliable_checkpoint_dir=str(ckpt), reliable_every=2,
        ).collect()
    }
    assert got == {i: 0 for i in range(31)}
    walked = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert walked, "reliable checkpoint dir received no checkpoint files"
    # a 30-edge chain resolves in ~6-8 rounds -> >= 3 reliable cuts at
    # every_2; the sweep must leave at most the final cut plus the one
    # in flight when the loop exited
    from urllib.parse import urlparse

    base = urlparse(spark.sparkContext.getCheckpointDir()).path
    rdd_dirs = [d for d in os.listdir(base) if d.startswith("rdd-")]
    assert len(rdd_dirs) <= 2, rdd_dirs


def test_redact_pii_counts_and_placeholders(spark):
    rows = [
        (1, "mail me at a.b+x@test.io or call 555-123-4567"),
        (2, "server 192.168.1.1 holds ssn 123-45-6789 twice: 987-65-4321"),
        (3, "clean text, no pii at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TX.redact_pii(df, "text").collect()}
    r1 = got[1]
    assert (r1.n_email, r1.n_phone, r1.n_ipv4, r1.n_ssn_like) == (1, 1, 0, 0)
    assert "[REDACTED-email]" in r1.text_redacted
    assert "[REDACTED-phone]" in r1.text_redacted
    assert "a.b+x@test.io" not in r1.text_redacted
    r2 = got[2]
    assert (r2.n_ipv4, r2.n_ssn_like) == (1, 2)
    assert r2.text_redacted.count("[REDACTED-ssn_like]") == 2
    r3 = got[3]
    assert r3.text_redacted == rows[2][1]
    assert (r3.n_email, r3.n_phone, r3.n_ipv4, r3.n_ssn_like) == (0, 0, 0, 0)
    assert got[4].n_email is None and got[4].text_redacted is None
    assert got[4].n_credit_card is None


def test_redact_pii_luhn_gate_and_new_kinds(spark):
    rows = [
        # Luhn-valid test number (redacted) + Luhn-failing decoy (kept)
        (1, "pay 4111-1111-1111-1111 not order 1234-5678-9012-3456"),
        (2, "call +44 20 7946 0958 or +1 555-123-4567"),
        # contiguous 16 digits, Luhn-valid (5500000000000004)
        (3, "mc 5500000000000004 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TX.redact_pii(df, "text").collect()}
    r1 = got[1]
    assert r1.n_credit_card == 1
    assert "[REDACTED-credit_card]" in r1.text_redacted
    assert "1234-5678-9012-3456" in r1.text_redacted  # Luhn-failing decoy survives
    assert "4111" not in r1.text_redacted
    r2 = got[2]
    # the +1 number matches intl_phone first (sorted order); n_phone still
    # counts its own hit against the ORIGINAL text
    assert (r2.n_intl_phone, r2.n_phone) == (2, 1)
    assert r2.text_redacted.count("[REDACTED-intl_phone]") == 2
    assert got[3].n_credit_card == 1
    assert "5500000000000004" not in got[3].text_redacted


def test_redact_pii_gated_equals_ungated_on_overlap_corpus(spark):
    """The combined-alternation gate is an evaluation-order optimization
    only: on a corpus engineered so kinds overlap (emails with digit
    local parts, ipv4 prefixes of emails, ssn inside phone-adjacent
    runs, cards beside phones, clean rows, nulls), the gated scrub must
    be row-for-row identical to the plain per-pattern chain."""
    rows = [
        (1, "12.3.4.56@x.co and 5.6.7.8@y.org"),          # ipv4-shaped email local parts
        (2, "123-456-7890-12-3456 and 123-45-6789"),      # phone/ssn adjacency
        (3, "4111 1111 1111 1111 555-123-4567"),           # card + phone
        (4, "+1 555-123-4567 club 1.2.3.4"),               # intl/us overlap + ipv4
        (5, "totally clean row"),
        (6, None),
        (7, ""),
        (8, "a@b.co a@b.co a@b.co"),                       # repeats
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gated = TX.redact_pii(df, "text").orderBy("doc_id").collect()
    plain = TX.redact_pii(df, "text", gate=False).orderBy("doc_id").collect()
    assert [r.asDict() for r in gated] == [r.asDict() for r in plain]


def test_luhn_valid_column(spark):
    import mds_provider_spark.operators.text as T

    rows = [
        ("4111-1111-1111-1111", True),
        ("4111 1111 1111 1111", True),
        ("5500000000000004", True),
        ("1234-5678-9012-3456", False),
        ("4111-1111-1111-1112", False),
    ]
    df = spark.createDataFrame([(c,) for c, _ in rows], "card string")
    got = df.select("card", T.luhn_valid(F.col("card")).alias("ok")).collect()
    assert {r.card: r.ok for r in got} == dict(rows)


def test_paragraph_dedup_keep_first_across_and_within_docs(spark):
    boiler = "Subscribe now."
    df = spark.createDataFrame(
        [
            (1, f"Unique one.\n\n{boiler}"),
            (2, f"{boiler}\n\nUnique two.\n\n{boiler}"),   # cross + within-doc
            (3, boiler),                                   # loses everything
            (4, "Unique four."),
            (5, None),                                     # null text dropped
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           TX.paragraph_dedup(df, "doc_id", "text").collect()}
    # doc 1 is the first occurrence (min doc_id, min idx) -> keeps both
    assert got[1].text_dedup == f"Unique one.\n\n{boiler}"
    assert (got[1].n_paras, got[1].n_kept) == (2, 2)
    # doc 2 loses BOTH boilerplate copies (cross-doc + within-doc)
    assert got[2].text_dedup == "Unique two."
    assert (got[2].n_paras, got[2].n_kept) == (3, 1)
    # doc 3 lost its only paragraph -> absent from output
    assert 3 not in got and 5 not in got
    assert got[4].text_dedup == "Unique four."


def test_paragraph_dedup_normalized_key_original_bytes_kept(spark):
    # dedup key is whitespace/case-insensitive, but the SURVIVING
    # paragraph keeps its original bytes
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           TX.paragraph_dedup(df, "doc_id", "text").collect()}
    assert got[1].text_dedup == "Hello   World" and 2 not in got


def test_paragraph_dedup_drops_planted_repetition(spark):
    # regression the VERDICT asked for: planting a shared paragraph
    # raises the corpus's repeated-paragraph ratio; the cleaned corpus
    # drops back to the pre-plant level
    boiler = "One weird trick doctors hate."
    base = [(i, f"Document body number {i} with its own words.")
            for i in range(40)]
    planted = [(i, t + ("\n\n" + boiler if i % 4 == 0 else ""))
               for i, t in base]
    df = spark.createDataFrame(planted, "doc_id long, text string")

    def dup_para_ratio(frame, text_col):
        paras = TX.paragraph_rows(frame, "doc_id", text_col)
        total = paras.count()
        distinct = paras.select("norm").distinct().count()
        return (total - distinct) / total

    before = dup_para_ratio(df, "text")
    cleaned = TX.paragraph_dedup(df, "doc_id", "text")
    after = dup_para_ratio(cleaned, "text_dedup")
    assert before >= 9 / 50  # 9 duplicate copies of the plant
    assert after == 0.0


def test_repetition_profile_known_values(spark):
    rows = [
        (1, "a b a b a b"),          # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
        (2, "all words unique here"),
        (3, "one"),                  # shorter than n -> 0.0
        (4, ""),
        (5, "x x x x"),              # maximal repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TX.repetition_profile(df, "doc_id", "text").collect()}
    assert got[1].dup2gram_ratio == round(1 - 2 / 5, 6)
    assert got[1].dup3gram_ratio == round(1 - 2 / 4, 6)  # aba bab aba bab
    assert got[2].dup2gram_ratio == 0.0 and got[2].dup3gram_ratio == 0.0
    assert got[3].dup2gram_ratio == 0.0
    assert got[4].dup2gram_ratio == 0.0
    assert got[5].dup2gram_ratio == round(1 - 1 / 3, 6)
    assert got[5].dup3gram_ratio == 0.5


# ------------------------------------------------------ mix_sample


def test_mix_sample_fractions_and_determinism(spark):
    from mds_provider_spark.operators import text as TX

    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = TX.mix_sample(df, "lang", {"en": 0.5, "zh": 0.0}, id_col="doc_id")
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    assert "zh" not in by                       # fraction 0 drops all
    assert 400 < by["en"] < 600                 # ~50% of 1000
    # deterministic: identical second run, and append-stable (subset
    # relation when the fraction grows)
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in
         TX.mix_sample(df, "lang", {"en": 0.5, "zh": 0.0},
                       id_col="doc_id").collect()}
    assert a == b
    wider = {r.doc_id for r in
             TX.mix_sample(df, "lang", {"en": 0.8, "zh": 0.0},
                           id_col="doc_id").collect()}
    assert a <= wider


def test_mix_sample_default_fraction_and_validation(spark):
    from mds_provider_spark.operators import text as TX

    df = spark.createDataFrame([(1, "other")], "doc_id long, lang string")
    assert TX.mix_sample(df, "lang", {"en": 0.5}, id_col="doc_id").count() == 0
    assert TX.mix_sample(df, "lang", {"en": 0.5}, id_col="doc_id",
                         default_fraction=1.0).count() == 1
    with pytest.raises(ValueError):
        TX.mix_sample(df, "lang", {"en": 1.5}, id_col="doc_id")


def test_mix_sample_zero_shuffle_plan(spark):
    from mds_provider_spark.operators import text as TX

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    plan = TX.mix_sample(df, "lang", {"en": 0.5}, id_col="doc_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ------------------------------------------------- group_split_assign


def test_group_split_assign_exact_groups_never_leak(spark):
    # many duplicate groups planted across ids that would split apart
    # under own-id routing; group routing must co-locate every group
    rows = [(i, f"shared text number {i % 17}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.group_split_assign(df, "doc_id", "text")
    assert set(out.columns) == {"doc_id", "text", "split"}
    per_group = (
        out.groupBy(TX.fingerprint("text"))
        .agg(F.count_distinct("split").alias("ns"))
        .collect()
    )
    assert all(r.ns == 1 for r in per_group)
    # own-id routing DOES leak on this corpus (the repair is real)
    naive = df.withColumn("split", TX.split_assign("doc_id"))
    leaked = (
        naive.groupBy(TX.fingerprint("text"))
        .agg(F.count_distinct("split").alias("ns"))
        .where("ns > 1").count()
    )
    assert leaked > 0


def test_group_split_assign_resolver_groups_and_ungrouped_rows(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "doc_id long, text string"
    )
    # near-dup resolver says 1,2,3 are one component; 4 is ungrouped
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, group_id long"
    )
    out = {r.doc_id: r.split for r in
           TX.group_split_assign(df, "doc_id", "text", groups=groups).collect()}
    assert out[1] == out[2] == out[3]
    # grouped rows route by exemplar id (min id = 1)
    ref = df.where("doc_id = 1").withColumn(
        "split", TX.split_assign("doc_id")).first().split
    assert out[1] == ref
    # ungrouped row routes by its own id, as split_assign would
    ref4 = df.where("doc_id = 4").withColumn(
        "split", TX.split_assign("doc_id")).first().split
    assert out[4] == ref4
