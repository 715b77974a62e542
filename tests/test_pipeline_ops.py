"""Behavioral tests for the LLM-pipeline operators: dedup recall, simhash
near-pair search, ANN recall vs brute force, text heuristics on crafted
inputs. (Value-level oracle parity is covered by test_oracle_parity.py.)"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from training_data_ops.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
    word_shingles,
)
from training_data_ops.operators.similarity import (
    sim_ann_ivf,
    sim_topk_cosine,
    topk_cosine,
)
from training_data_ops.operators.text import (
    lang_id,
    quality_score,
    rolling_hash,
    token_count,
)

SF_DIR = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH (linear cost) must recover the exact pairwise near-dup pairs.

    With 16 hashes / 4 bands / threshold 0.5 on the planted ~0.99-Jaccard
    dupes, expected recall is ~1.0; require >= 0.9 to keep the test stable.
    """
    exact = _pairs(dedup_ngram_jaccard(spark, SF_DIR))
    lsh = _pairs(dedup_minhash_lsh(spark, SF_DIR))
    assert exact, "exact near-dup baseline found no pairs — testdata changed?"
    assert lsh <= exact  # verification step guarantees no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(lsh)}/{len(exact)})"


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
def test_simhash_near_pairs_find_planted_dupes(spark):
    """Planted near-dup docs differ by a few tokens → small Hamming distance.
    The banded pair search must find mostly the same pairs as Jaccard."""
    exact = _pairs(dedup_ngram_jaccard(spark, SF_DIR))
    sims = dedup_simhash(spark, SF_DIR)
    near = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(sims, max_hamming=8).collect()}
    overlap = len(near & exact) / len(exact)
    assert overlap >= 0.7, f"simhash found {overlap:.2f} of planted dupes"


def test_simhash_identical_text_same_fingerprint(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="alpha beta gamma")]
    )
    out = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert out[1] == out[2]


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=4/16 cells should recover a solid fraction of exact
    top-10; with weak clusters expect moderate recall — require >= 0.3,
    and exact agreement on the neighbors it does return (no fabricated sims)."""
    exact = sim_topk_cosine(spark, SF_DIR).collect()
    ann = sim_ann_ivf(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    ann_sets = {}
    sim_by_pair = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in sim_by_pair:
            assert r.cos_sim == sim_by_pair[(r.query_id, r.neighbor_id)]
    recalls = [
        len(ann_sets.get(q, set()) & s) / len(s) for q, s in exact_sets.items()
    ]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.3, f"IVF recall@10 {avg:.2f}"


def test_topk_excludes_self_and_is_ranked(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = topk_cosine(emb, emb.where(F.col("vec_id") < 3), k=5).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    by_q = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.cos_sim)
    for sims in by_q.values():
        assert len(sims) == 5
        assert sims == sorted(sims, reverse=True)


def test_word_shingles_and_token_count(spark):
    df = spark.createDataFrame([Row(text="  a  b c d ")])
    r = df.select(
        word_shingles(F.col("text")).alias("sh"), token_count(F.col("text")).alias("n")
    ).first()
    assert r.sh == ["a b c", "b c d"] and r.n == 4


def test_lang_id_on_crafted_text(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog of the house"),
            Row(doc_id=2, text="el perro la casa de los gatos que duermen"),
            Row(doc_id=3, text="der hund und die katze das ist gut"),
            Row(doc_id=4, text="xyzzy plugh qwerty"),
        ]
    )
    out = {r.doc_id: r.p for r in df.select("doc_id", lang_id(F.col("text")).alias("p")).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "de" and out[4] == "und"


def test_quality_score_bounds_and_monotonicity(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog and runs to the barn " * 8),
            Row(doc_id=2, text="x"),
        ]
    )
    out = {r.doc_id: r.q for r in df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_rolling_hash_stable_under_whitespace(spark):
    df = spark.createDataFrame([Row(a="alpha beta gamma", b="  alpha beta gamma  ")])
    r = df.select(
        rolling_hash(F.col("a")).alias("ha"), rolling_hash(F.col("b")).alias("hb")
    ).first()
    assert r.ha == r.hb


def test_minhash_signature_shape(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    sig = minhash_signatures(docs)
    assert [c for c in sig.columns if c.startswith("m")] == [f"m{j}" for j in range(16)]
    row = sig.first()
    assert all(0 <= row[f"m{j}"] < 2147483647 for j in range(16))


def test_ivf_trained_centroids_recall(spark):
    """Lloyd-trained IVF must keep high recall (absolute bar; on this data
    the id-seeded naive centroids are already near-optimal, so the trained
    variant demonstrates the iterative path, not a recall win)."""
    from training_data_ops.operators.similarity import (
        sim_ann_ivf_trained_neighbors,
    )

    exact = sim_topk_cosine(spark, SF_DIR).collect()
    ann = sim_ann_ivf_trained_neighbors(spark, SF_DIR).collect()
    exact_sets, ann_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(ann_sets.get(q, set()) & s) / len(s) for q, s in exact_sets.items()]
    assert sum(recalls) / len(recalls) >= 0.7


def test_stateful_dedup_suppresses_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: a hash first seen in batch 1 must NOT re-emit
    when batch 2 delivers more duplicates; new hashes in batch 2 emit once."""
    import pandas as pd

    from training_data_ops.operators.dedup import (
        stateful_dedup_stream,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 2], "text_hash": ["A", "B"]}).to_parquet(
        src / "batch1.parquet"
    )
    pd.DataFrame({"doc_id": [3, 4], "text_hash": ["A", "C"]}).to_parquet(
        src / "batch2.parquet"
    )
    stream = (
        spark.readStream.schema("doc_id long, text_hash string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    query = (
        stateful_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("stateful_dedup_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    rows = {r.text_hash: r for r in spark.table("stateful_dedup_test").collect()}
    # exactly one emission per distinct hash, no re-emission of A
    assert len(spark.table("stateful_dedup_test").collect()) == 3
    assert set(rows) == {"A", "B", "C"}
    assert rows["B"].keep_id == 2 and rows["C"].keep_id == 4


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must converge across a 5-hop chain (multiple
    rounds), keep islands separate, and label by component-min id.  The
    driver-side union-find result is a local relation built without
    writing any session conf."""
    from training_data_ops.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (5, 6),   # chain 1-2-3-4-5-6
         (10, 11), (11, 12), (10, 12),             # triangle 10-11-12
         (20, 21)],                                # pair
        "src long, dst long",
    )
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        out = connected_components(edges)
        assert spark.conf.get(key, None) is None
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        labels = {r.id: r.label for r in out.collect()}
    finally:
        if saved is not None:
            spark.conf.set(key, saved)
    assert {labels[i] for i in (1, 2, 3, 4, 5, 6)} == {1}
    assert {labels[i] for i in (10, 11, 12)} == {10}
    assert {labels[i] for i in (20, 21)} == {20}


def test_pii_scrub_redacts_crafted_text(spark):
    from training_data_ops.operators.text import (
        pii_counts,
        scrub_pii,
    )
    from pyspark.sql import functions as F

    rows = [
        ("write to john.doe+spam@mail.example.org today", 1, 0,
         "write to <EMAIL> today"),
        ("call +1 (415) 555-0134 or 020 7946 0958 now", 0, 2,
         "call <PHONE> or <PHONE> now"),
        ("no pii here at all", 0, 0, "no pii here at all"),
        ("mix a@b.io and 12345678901", 1, 1, "mix <EMAIL> and <PHONE>"),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], "text string"
    )
    n_em, n_ph = pii_counts(F.col("text"))
    got = df.select(
        "text", n_em.alias("e"), n_ph.alias("p"), scrub_pii(F.col("text")).alias("s")
    ).collect()
    expected = {t: (e, p, s) for t, e, p, s in rows}
    for r in got:
        e, p, s = expected[r.text]
        assert (r.e, r.p, r.s) == (e, p, s), r.text


def test_build_training_corpus_end_to_end(spark, tmp_path):
    """Capstone: scored -> filtered -> deduped -> split -> sharded write,
    verified by reading the sink back."""
    from pyspark.sql import functions as F

    from training_data_ops.operators.pipeline import (
        build_training_corpus,
        pipeline_clean_corpus,
    )

    out = str(tmp_path / "corpus")
    summary = build_training_corpus(spark, "/root/testdata/sf0.01", out, num_shards=4)
    rows = {r.split: r.docs for r in summary.collect()}
    assert set(rows) <= {"train", "val", "test"} and sum(rows.values()) > 0

    # doc count must equal the oracle-checked clean-corpus query's group count
    expected = pipeline_clean_corpus(spark, "/root/testdata/sf0.01").count()
    assert sum(rows.values()) == expected

    back = spark.read.parquet(out)
    assert back.where(F.col("quality") < 0.5).count() == 0
    assert back.select("doc_id").distinct().count() == expected


def test_lang_id_predictions_consistent_on_corpus(spark):
    """The synthetic corpus text is English-marker word soup for every row
    (the declared `lang` column is uncorrelated metadata), so the heuristic
    must classify every document as en or und — any other label would mean
    marker lists are misfiring.  Per-language detection is pinned by the
    crafted-text tests above."""
    from pyspark.sql import functions as F

    from training_data_ops.operators.text import lang_id
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    preds = {
        r.pred
        for r in docs.select(lang_id(F.col("text")).alias("pred")).distinct().collect()
    }
    assert preds <= {"en", "und"}, preds


def test_embedding_lsh_subset_and_recall_vs_exact(spark):
    """The LSH embedding near-dup path verifies candidates with the same
    exact cosine as the brute-force twin, so its pairs are a subset of the
    exact pairs; with 4 tables x 6 bits over the planted near-dup vectors,
    recall should stay high."""
    from training_data_ops.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_lsh,
    )

    exact = {(r.vec_a, r.vec_b) for r in dedup_embedding_cosine(spark, SF_DIR).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in dedup_embedding_lsh(spark, SF_DIR).collect()}
    assert exact, "exact embedding near-dup baseline found no pairs"
    assert lsh <= exact  # cosine verify guarantees no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"embedding-LSH recall {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_shingle_df_cap_drops_boilerplate(spark, tmp_path):
    """max_df anti-joins out shingles above the document-frequency cap:
    a boilerplate footer shared by every doc must vanish from the capped
    shingle table (and with it the pairs it would fake), while genuinely
    duplicated content still pairs up."""
    from training_data_ops.operators.dedup import (
        _ngram_jaccard,
        _shingle_table,
    )

    footer = "all rights reserved by example corp"
    bodies = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zeta",  # true dup of doc 0
        "one two three four five six seven",
        "red orange yellow green blue indigo",
        "north south east west up down around",
    ]
    rows = [
        Row(doc_id=i, text=f"{body} {footer}", lang="en", source="web", n_chars=0)
        for i, body in enumerate(bodies)
    ]
    d = str(tmp_path / "capdocs")
    spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")

    docs = spark.read.parquet(f"{d}/documents.parquet")
    uncapped = {r.s for r in _shingle_table(docs).select("s").distinct().collect()}
    capped = {
        r.s
        for r in _shingle_table(docs, max_df=3).select("s").distinct().collect()
    }
    footer_shingle = "rights reserved by"
    assert footer_shingle in uncapped
    assert footer_shingle not in capped  # df=5 > cap
    assert capped < uncapped

    pairs_capped = _pairs(_ngram_jaccard(spark, d, max_df=3))
    assert (0, 1) in pairs_capped  # true dup survives the cap
    # footer-only overlap must not fake pairs among unrelated docs
    assert all(a == 0 and b == 1 for a, b in pairs_capped)


def test_lang_id_trigram_separates_real_languages(spark):
    """The trigram-cosine upgrade must (a) match the marker ladder on
    marker-bearing text, (b) classify marker-FREE prose the ladder drops to
    'und', and (c) detect CJK text by codepoint — the concrete separation
    wins over the r1 heuristic."""
    from training_data_ops.operators.text import (
        TRIGRAM_WEIGHTS,
        lang_id,
        lang_id_trigram,
    )

    snips = [
        (1, "en", "the quick brown fox jumps over the lazy dog and runs into the forest"),
        (2, "en", "computers process information quickly during every single operation"),
        (3, "es", "el perro corre por la calle y los que juegan en la casa de la ciudad"),
        (4, "fr", "le chien court dans la rue et les enfants jouent dans la maison de la ville"),
        (5, "de", "der hund läuft durch die straße und die kinder spielen in einem haus der stadt"),
        (6, "zh", "这是一个中文句子的测试文本"),
        (7, "und", "zzz qqq kkk vvv"),
    ]
    df = spark.createDataFrame(snips, "doc_id int, expect string, text string")
    out = {
        r.doc_id: (r.tri, r.marker)
        for r in df.select(
            "doc_id",
            lang_id_trigram(F.col("text")).alias("tri"),
            lang_id(F.col("text")).alias("marker"),
        ).collect()
    }
    expect = dict((i, e) for i, e, _ in snips)
    for i, (tri, _) in out.items():
        assert tri == expect[i], (i, tri, expect[i])
    # the ladder misses exactly the cases the upgrade exists for
    assert out[2][1] == "und" and out[6][1] == "und"

    # profile invariant: no self-overlapping trigram, so the replace-trick
    # column helper counts identically to the registered enumeration form
    for lang, prof in TRIGRAM_WEIGHTS.items():
        for t in prof:
            assert t[0] != t[2], (lang, t)


def test_decontaminate_flags_planted_eval_overlap(spark, tmp_path):
    """A training doc that copies an 8-gram run from an eval doc must be
    flagged; unrelated docs must not. Eval docs (id % 97 == 0) never appear
    in the output."""
    from training_data_ops.operators.pipeline import (
        decontaminate,
    )

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        Row(doc_id=0, text=eval_text, lang="en", source="eval", n_chars=0),
        # copies 8 consecutive eval words inside unrelated prose
        Row(doc_id=1, text=f"intro words {eval_text} trailing words",
            lang="en", source="web", n_chars=0),
        Row(doc_id=2, text="one two three four five six seven eight nine ten",
            lang="en", source="web", n_chars=0),
    ]
    d = str(tmp_path / "decon")
    spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in decontaminate(spark, d).collect()}
    assert set(out) == {1, 2}  # eval doc excluded
    assert out[1].contaminated and out[1].n_hits >= 1
    assert not out[2].contaminated and out[2].n_hits == 0


def test_pack_sequences_window_semantics(spark):
    """Within every bucket, packs are contiguous prefix-sum fills: offsets
    stay below the window, pack ids are non-decreasing in doc order, and
    each doc's slot follows the previous doc's end."""
    from training_data_ops.operators.pipeline import (
        PACK_WINDOW,
        pack_sequences,
    )

    rows = pack_sequences(spark, SF_DIR).collect()
    assert rows
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket, docs in by_bucket.items():
        docs.sort(key=lambda r: r.doc_id)
        prefix = 0
        for r in docs:
            assert 0 <= r.pack_offset < PACK_WINDOW, r
            assert r.pack_id == prefix // PACK_WINDOW, r
            assert r.pack_offset == prefix % PACK_WINDOW, r
            prefix += r.n_tokens


def test_corpus_mixture_scarcest_source_binds(spark):
    """corpus_scale = min(n_s/share_s): the binding source keeps ~all rows,
    every source's target is its share of the total, and kept counts are
    the deterministic hash-bucket approximation of the target."""
    from training_data_ops.operators.sampling import (
        MIXTURE_TARGET,
        corpus_mixture,
    )

    out = {r.source: r for r in corpus_mixture(spark, SF_DIR).collect()}
    assert set(out) == set(MIXTURE_TARGET)
    scale = min(out[s].n_total / w for s, w in MIXTURE_TARGET.items())
    binding = [s for s, w in MIXTURE_TARGET.items()
               if out[s].n_total / w == scale]
    for s, w in MIXTURE_TARGET.items():
        assert out[s].n_target == int(w * scale)
        assert out[s].n_kept <= out[s].n_total
    # the binding source is kept in full (its keep rate is 1)
    for s in binding:
        assert out[s].n_kept == out[s].n_total


def test_gopher_rules_fire_on_crafted_docs(spark, tmp_path):
    """Each rule must reject its own violation class: too short, repetition
    (top-token share), and absurd mean word length; ordinary prose passes."""
    from training_data_ops.operators.text import (
        text_quality_gopher,
    )

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog and then "
                           "walks back home across the wide green field tonight "
                           "with a very calm and happy mood overall",
            lang="en", source="web", n_chars=0),
        Row(doc_id=2, text="too short", lang="en", source="web", n_chars=0),
        Row(doc_id=3, text="spam " * 40, lang="en", source="web", n_chars=0),
        Row(doc_id=4, text="a b c d e f g h i j k l m n o p q r s t u v w x y z",
            lang="en", source="web", n_chars=0),  # mean word len 1
    ]
    d = str(tmp_path / "gopher")
    spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in text_quality_gopher(spark, d).collect()}
    assert out[1].passes
    assert not out[2].passes  # n_tokens < minimum
    assert not out[3].passes and out[3].top_token_share == 1.0  # repetition
    assert not out[4].passes  # mean word length below bound


def test_length_buckets_partition_and_cover(spark):
    """Power-of-two buckets: every doc lands in exactly one bucket, bucket
    bounds hold (2^b <= tokens < 2^(b+1)), totals reconcile."""
    from training_data_ops.operators.text import (
        text_length_buckets,
        token_count,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    out = text_length_buckets(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    total_tokens = docs.select(
        F.sum(token_count(F.col("text")).cast("long")).alias("s")
    ).collect()[0].s
    assert sum(r.docs for r in out) == n_docs
    assert sum(r.total_tokens for r in out) == total_tokens
    for r in out:
        assert 2 ** r.bucket <= r.min_tokens <= r.max_tokens < 2 ** (r.bucket + 1)


def test_quantize_int8_reconstruction(spark):
    """Codes must be within [0,255], dequantization must land within half a
    quantization step of the original value in every dimension."""
    from training_data_ops.operators.similarity import (
        QUANT_LEVELS,
        embedding_quantize_int8,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    quant: dict = {}
    for r in embedding_quantize_int8(spark, SF_DIR).collect():
        quant.setdefault(r.vec_id, {})[r.dim] = r.qv
    quant = {
        vid: [codes[i] for i in range(len(codes))] for vid, codes in quant.items()
    }
    emb = {
        r.vec_id: r.embedding
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    assert set(quant) == set(emb)
    dims = len(next(iter(emb.values())))
    mins = [min(v[i] for v in emb.values()) for i in range(dims)]
    maxs = [max(v[i] for v in emb.values()) for i in range(dims)]
    for vid, codes in quant.items():
        assert len(codes) == dims
        for i, c in enumerate(codes):
            assert 0 <= c <= QUANT_LEVELS
            if maxs[i] > mins[i]:
                step = (maxs[i] - mins[i]) / QUANT_LEVELS
                deq = mins[i] + c * step
                assert abs(deq - emb[vid][i]) <= step / 2 + 1e-9, (vid, i)


def test_pack_sequences_long_doc_overflows_into_next_window(spark, tmp_path):
    """A document longer than the pack window must advance pack_id past the
    windows it spans (greedy contiguous fill never splits a doc); the next
    doc starts at the overflowing prefix."""
    from training_data_ops.operators.pipeline import (
        PACK_WINDOW,
        pack_sequences,
    )

    rows = [
        Row(doc_id=i, text=" ".join(f"w{j}" for j in range(n)),
            lang="en", source="web", n_chars=0)
        for i, n in [(1, 100), (2, PACK_WINDOW + 88), (3, 40)]
    ]
    d = str(tmp_path / "longdoc")
    spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in pack_sequences(spark, d).collect()}
    by_bucket: dict[int, list] = {}
    for r in out.values():
        by_bucket.setdefault(r.bucket, []).append(r)
    for docs in by_bucket.values():
        docs.sort(key=lambda r: r.doc_id)
        prefix = 0
        for r in docs:
            assert r.pack_id == prefix // PACK_WINDOW
            assert r.pack_offset == prefix % PACK_WINDOW
            prefix += r.n_tokens
    assert out[2].n_tokens == PACK_WINDOW + 88


def test_trigram_profiles_have_no_self_overlap():
    """The column-expression trigram counter (occurrences/replace trick)
    counts NON-overlapping occurrences, while the registered explode+join
    form and the DuckDB oracle count overlapping ones.  The two agree iff
    no profile trigram can overlap itself — i.e. no trigram has period 1
    ('aaa') or period 2 ('aba').  Pin that invariant so adding such a
    trigram to TRIGRAM_PROFILES fails loudly instead of silently
    diverging the two formulations."""
    from training_data_ops.operators.text import (
        TRIGRAM_PROFILES,
    )

    for lang, prof in TRIGRAM_PROFILES.items():
        for t in prof:
            assert len(t) == 3, (lang, t)
            assert t[0] != t[1] or t[1] != t[2], f"period-1 trigram {t!r} in {lang}"
            assert t[0] != t[2], f"period-2 trigram {t!r} in {lang} self-overlaps"


def test_repetition_signals_flag_planted_spam(spark, tmp_path):
    """A doc that is one phrase repeated 50x must be dropped (dup_ppm ~1e6);
    normal prose and sub-3-token docs must be kept with exact ppm values."""
    from training_data_ops.registry import all_queries

    d = str(tmp_path)
    docs = [
        (1, "buy cheap pills now " * 50, "en", "src0"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank", "en", "src0"),
        (3, "hi there", "en", "src0"),
    ]
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    out = {
        r.doc_id: r
        for r in all_queries()["text_repetition_signals"].spark(spark, d).collect()
    }
    assert not out[1].keep and out[1].dup_ppm > 900_000
    assert out[2].keep and out[2].dup_ppm == 0
    # repeated trigram count: 200 tokens -> 198 grams, 4 distinct
    assert out[1].n_grams == 198 and out[1].n_distinct == 4
    assert out[3].keep and out[3].n_grams == 0 and out[3].dup_ppm == 0


def test_canonicalize_one_keep_per_component(spark):
    """Exactly one canonical doc per component; the canonical doc is the
    max-n_chars (ties min doc_id) member; singleton count + member count
    covers the whole corpus exactly once."""
    from training_data_ops.registry import all_queries

    rows = all_queries()["dedup_canonicalize"].spark(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        keeps = [r for r in members if r.is_canonical]
        assert len(keeps) == 1, (comp, members)
        assert all(
            (r.action == "keep") == r.is_canonical for r in members
        )


def test_token_budget_is_a_maximal_prefix(spark):
    """Kept tokens must not exceed the budget, and the kept set must be a
    PREFIX of the (qs_m desc, bucket, doc_id) total order: every kept doc
    ranks strictly before every dropped doc, and adding the first dropped
    doc would overshoot the budget."""
    from training_data_ops.registry import all_queries

    rows = all_queries()["corpus_token_budget"].spark(spark, SF_DIR).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total * 1 // 2
    ordered = sorted(rows, key=lambda r: (-r.qs_m, r.bucket, r.doc_id))
    kept_tokens = 0
    seen_drop = False
    first_dropped = None
    for r in ordered:
        if r.keep:
            assert not seen_drop, f"kept doc {r.doc_id} after a dropped one"
            kept_tokens += r.n_tokens
        else:
            if not seen_drop:
                first_dropped = r
            seen_drop = True
    assert kept_tokens <= budget
    assert first_dropped is not None
    assert kept_tokens + first_dropped.n_tokens > budget


def test_ann_ivf_pq_recall_vs_bruteforce_l2(spark):
    """IVF-PQ (nprobe=4/16 cells + 8x16 product codes) against exact L2
    top-10: the coarse quantizer bounds recall like plain IVF (>= 0.3
    pinned there); ADC quantization distorts distances further, so pin a
    slightly lower floor — and require ranks to be contiguous per query."""
    import numpy as np

    from training_data_ops.operators.similarity import (
        sim_ann_ivf_pq,
    )

    rows = sim_ann_ivf_pq(spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for q, pairs in got.items():
        ranks = sorted(p[0] for p in pairs)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r.vec_id for r in emb])
    V = np.array([r.embedding for r in emb], dtype=np.float64)
    recalls = []
    for qid in sorted(got):
        qv = V[ids == qid][0]
        d = ((V - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        truth = {int(ids[i]) for i in order if ids[i] != qid}
        truth = set(list(sorted(truth, key=lambda n: (d[ids == n][0], n)))[:10])
        mine = {n for _, n in got[qid]}
        recalls.append(len(mine & truth) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.25, f"IVF-PQ recall@10 {avg:.2f}"


def test_shingle_table_arrow_identical_to_fold(spark):
    """The Arrow shingle kernel (python tokenize + md5) must reproduce the
    HOF expression pipeline EXACTLY — same shingle strings, same h/fp
    hashes, same first-occurrence dedup — including whitespace edge cases
    (F.trim is space-only; tabs/newlines are delimiters, not trim chars)."""
    from training_data_ops.operators.dedup import (
        _shingle_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edge = spark.createDataFrame(
        [
            (100001, "\ta b\tc  d\ne "),  # leading tab survives trim
            (100002, ""),                 # empty
            (100003, None),               # null text
            (100004, "one two"),          # too short for a 3-gram
            (100005, " x y z x y z x y z "),  # repeated shingles dedup
        ],
        "doc_id long, text string",
    )
    for src in (docs, edge):
        for n in (3, 8):
            arrow = sorted(
                tuple(r)
                for r in _shingle_table(src, kernel="arrow", n=n).collect()
            )
            fold = sorted(
                tuple(r)
                for r in _shingle_table(src, kernel="fold", n=n).collect()
            )
            assert arrow == fold


def test_minhash_signatures_arrow_identical_to_fold(spark):
    """The zero-shuffle map-side signature kernel must reproduce the
    groupBy fold EXACTLY — all-integer affine minima, so identity (not
    closeness) is the bar."""
    from training_data_ops.operators.dedup import (
        _shingle_table,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    arrow = sorted(tuple(r) for r in minhash_signatures(docs).collect())
    fold = sorted(
        tuple(r)
        for r in minhash_signatures(
            docs, shingles=_shingle_table(docs)  # shingles= resolves to fold
        ).collect()
    )
    assert arrow == fold
    # the explicit arrow+shingles combination must refuse, not silently
    # degrade to the fold path (round-9 ADVICE)
    import pytest

    with pytest.raises(ValueError, match="arrow"):
        minhash_signatures(
            docs, shingles=_shingle_table(docs), kernel="arrow"
        )


def test_semantic_prune_kernels_agree_near_threshold(spark):
    """Round-8 ADVICE: the arrow kernel decides the >= epsilon pair test on
    numpy/BLAS doubles while the fold kernel runs the exact sequential
    fold — a pair within ~1 ulp of the threshold could flip between them
    on a divergent BLAS build.  Engineer pairs sitting ~1e-14 around
    SEMANTIC_DUP_THRESHOLD (100x the expected GEMM-vs-fold ulp noise on
    64-dim dots, so stable on a sane platform, loud on a divergent one)
    and require the kernels to agree exactly."""
    import math

    import numpy as np

    from training_data_ops.operators.dedup import (
        SEMANTIC_DUP_THRESHOLD,
        _semantic_prune,
    )

    rng_dim = 64
    t = SEMANTIC_DUP_THRESHOLD
    u = np.zeros(rng_dim)
    u[0] = 1.0
    vecs = {0: u.tolist()}
    # vectors at cosine t - 1e-14, t, t + 1e-14 from u (unit norm)
    for i, eps in enumerate((-1e-14, 0.0, 1e-14), start=1):
        c = t + eps
        w = np.zeros(rng_dim)
        w[0] = c
        w[1] = math.sqrt(1.0 - c * c)
        vecs[i] = w.tolist()
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    # all four in one cell; cent_sim ascending with vec_id so the earlier
    # rule keeps vec 0 and tests the pair decision against each crafted one
    assign = spark.createDataFrame(
        [(i, 0, 0.1 * (i + 1)) for i in vecs],
        "vec_id long, cell_id long, cent_sim double",
    ).persist()
    arrow = sorted(
        tuple(r) for r in _semantic_prune(emb, assign, kernel="arrow").collect()
    )
    fold = sorted(
        tuple(r) for r in _semantic_prune(emb, assign, kernel="fold").collect()
    )
    assert arrow == fold
    # sanity: the fixture actually straddles the threshold (one side kept)
    kept = {r[0]: r[3] for r in arrow}
    assert kept[1] and not kept[3], kept


def test_two_level_assign_kernels_agree_near_tie(spark):
    """Round-8 ADVICE sibling fixture: two fine centroids engineered
    ~1e-14 apart in cosine from a probe vector — the arrow argmax and the
    fold max_by must pick the same winner (and the exact-fold re-score
    makes cent_sim bit-identical by construction)."""
    import math

    import numpy as np

    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )

    dim = 64
    base = 0.9
    rows = []
    # vec 0/1: the two near-tied fine centroid seeds; vec 2: coarse seed
    # twin; vec 3: the probe
    for i, eps in enumerate((0.0, 1e-14)):
        c = base + eps
        w = np.zeros(dim)
        w[0] = c
        w[1] = math.sqrt(1.0 - c * c)
        rows.append((i, w.tolist()))
    probe = np.zeros(dim)
    probe[0] = 1.0
    rows.append((2, probe.tolist()))
    rows.append((3, probe.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse, fine = two_level_index(emb, cells=3, k=1)
    arrow = sorted(
        tuple(r)
        for r in two_level_assign(emb, coarse, fine, kernel="arrow").collect()
    )
    fold = sorted(
        tuple(r)
        for r in two_level_assign(emb, coarse, fine, kernel="fold").collect()
    )
    assert arrow == fold


def test_two_level_assign_arrow_carries_vec_past_unprobed_cell(spark):
    """A coarse cell that owns a fine centroid but gets no probe reaches
    the cogroup's empty branch; under ``carry_vec=True, score=False`` its
    empty ``v`` column must still convert to ``array<double>``."""
    from training_data_ops.operators.similarity import (
        two_level_assign_arrow,
        two_level_index,
    )

    schema = "vec_id long, embedding array<double>"
    index = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], schema)
    coarse, fine = two_level_index(index, cells=2, k=2)
    # both probes sit next to cell 0, so cell 1 is never probed
    probes = spark.createDataFrame([(10, [1.0, 0.1]), (11, [0.9, 0.0])], schema)
    out = two_level_assign_arrow(probes, coarse, fine, carry_vec=True, score=False)
    got = sorted((r.vec_id, r.cell_id, list(r.v)) for r in out.collect())
    assert got == [(10, 0, [1.0, 0.1]), (11, 0, [0.9, 0.0])]


def test_pq_encode_arrow_codes_bit_identical_to_fold(spark):
    """The Arrow PQ encoder accumulates squared distances left-to-right
    over dims — the exact IEEE float64 sequence the fold kernel runs —
    so codes must be IDENTICAL, not merely close (the full SQL oracle of
    sim_ann_ivf_2level_pq depends on it; round-8 verdict #3)."""
    from training_data_ops.operators.similarity import (
        PQ_K,
        as_double,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = emb.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").cast("int").alias("j"),
        as_double(F.col("embedding")).alias("w"),
    )
    arrow = sorted(tuple(r) for r in pq_encode(emb, cb, kernel="arrow").collect())
    fold = sorted(tuple(r) for r in pq_encode(emb, cb, kernel="fold").collect())
    assert arrow == fold


def test_temperature_sampling_flattens_shares(spark, tmp_path):
    """α=0.5 must flatten the blend: with sources of 400 vs 100 docs
    (natural 80/20), sampled shares must sit strictly between natural and
    uniform, the scarce source must upsample (n_sampled > n_total via
    epochs+remainder), and Σ n_target ≈ corpus size (integer floors)."""
    from training_data_ops.registry import all_queries

    d = str(tmp_path)
    rows = [(i, f"doc {i} text", "en", "big" if i < 400 else "small", 10)
            for i in range(500)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    out = {r.source: r for r in
           all_queries()["sample_temperature"].spark(spark, d).collect()}
    big, small = out["big"], out["small"]
    assert big.n_total == 400 and small.n_total == 100
    tot_target = big.n_target + small.n_target
    big_share = big.n_target / tot_target
    assert 0.5 < big_share < 0.8, big_share  # between uniform and natural
    assert small.n_target > small.n_total  # scarce source upsamples
    assert small.epochs >= 1
    assert 0 <= 500 - tot_target <= 2  # floor slack only
    # sampled counts approximate targets to md5-draw binomial noise (~4σ)
    assert abs(big.n_sampled - big.n_target) <= 4 * big.n_total ** 0.5


def test_pca_power_matches_numpy_top_eigenvector(spark):
    """The distributed power iteration must land near numpy's exact top
    eigenvector of X^T X: Rayleigh quotient within the residual bound of
    the true top eigenvalue, and |cos(v, v_true)| bounded away from an
    arbitrary direction."""
    import numpy as np

    from training_data_ops.operators.similarity import (
        pca_power_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    v, _ = pca_power_train(emb)
    X = np.array(
        [r.embedding for r in emb.select("embedding").collect()], dtype=np.float64
    )
    C = X.T @ X
    w, vecs = np.linalg.eigh(C)
    v = np.array(v)
    lam = float(v @ C @ v)
    assert lam >= 0.90 * w[-1], (lam, w[-1])
    # near-isotropic data (l2/l1 ~ 0.98) limits directional convergence;
    # still must be far from random (E|cos| ~ 1/8 for dim 64)
    assert abs(float(v @ vecs[:, -1])) >= 0.5


def _python_bpe(word_freqs, k):
    """Reference BPE (Sennrich): dict of word->freq, k merges, ties broken
    lexicographically on (left, right)."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for rank in range(1, k + 1):
        counts = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_merges_match_python_reference(spark, tmp_path):
    """The distributed trainer must reproduce the reference algorithm's
    full merge table — order, pairs, and counts — on a corpus crafted so
    merges chain (lo+w, low+e, ...) and ties occur."""
    from collections import Counter

    from training_data_ops.operators.bpe import (
        bpe_train_merges,
    )

    texts = [
        "low low low lower lowest",
        "new newer newest new new",
        "wide wider widest low new",
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    wf = Counter(w for t in texts for w in t.split())
    expected = _python_bpe(wf, 8)
    got = bpe_train_merges(spark.read.parquet(f"{d}/documents.parquet"))
    assert got == expected, (got, expected)


def test_bpe_encode_matches_python_tokenizer(spark, tmp_path):
    """Encoding with the trained merges must reproduce the reference
    tokenizer's subword counts per document, and merges must strictly
    shrink token counts versus character-level."""
    from training_data_ops.operators.bpe import (
        bpe_encode,
        bpe_train_merges,
    )

    texts = ["low lower lowest low", "new newest lowest", "low new low"]
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    docs = spark.read.parquet(f"{d}/documents.parquet")
    merges = bpe_train_merges(docs)

    def py_encode(w):
        syms = list(w) + ["</w>"]
        for _, l, r, _, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    for i, t in enumerate(texts):
        ws = t.split()
        assert got[i].n_words == len(ws)
        expect = sum(py_encode(w) for w in ws)
        assert got[i].n_subwords == expect
        chars_level = sum(len(w) + 1 for w in ws)
        assert got[i].n_subwords < chars_level  # merges actually shrink


def test_corpus_curriculum_total_order_and_determinism(spark):
    """The distributed ordinal assignment (range partition + offset stamp)
    must equal the oracle's conceptual global row_number: ordinals are a
    permutation of 0..n-1, ordered by (tier, md5(doc_id), doc_id), and
    identical across executions (partitioning-invariant)."""
    import hashlib

    from training_data_ops.registry import all_queries

    fn = all_queries()["corpus_curriculum"].spark
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert sorted(r.ordinal for r in rows) == list(range(n))
    key = {
        r.doc_id: (r.tier, hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id)
        for r in rows
    }
    by_ordinal = sorted(rows, key=lambda r: r.ordinal)
    assert [r.doc_id for r in by_ordinal] == [
        d for d, _ in sorted(key.items(), key=lambda kv: kv[1])
    ]
    # tiers never descend along the curriculum
    tiers = [r.tier for r in by_ordinal]
    assert tiers == sorted(tiers)
    again = fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_corpus_shard_manifest_balance_and_invariance(spark, monkeypatch):
    """Shard assignment is a global token prefix-sum in md5(doc_id) order:
    every shard except the last must be 'full' (its docs' tokens reach the
    budget before the next shard starts), shard_offset is the exact running
    position inside the shard, and the manifest is identical when the range
    sort runs at a different partition width (partitioning-invariant)."""
    import hashlib

    from training_data_ops.operators import pipeline as P
    from training_data_ops.registry import all_queries

    fn = all_queries()["corpus_shard_manifest"].spark
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    # recompute the semantic serially from the rows themselves
    order = sorted(
        rows,
        key=lambda r: (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id),
    )
    prefix = 0
    for r in order:
        assert r.shard_id == prefix // P.SHARD_TOKEN_BUDGET, r
        assert r.shard_offset == prefix % P.SHARD_TOKEN_BUDGET, r
        prefix += r.n_tokens
    # balance follows from the prefix law checked above: shard_id is
    # EXACTLY prefix div budget for every row, so a shard can only end
    # where the running total crosses a budget multiple — assert the
    # crossing directly for every consecutive pair in the total order
    for prev, nxt in zip(order, order[1:]):
        if nxt.shard_id != prev.shard_id:
            assert nxt.shard_id > prev.shard_id  # monotone, may skip on big docs
            assert prev.shard_offset + prev.n_tokens >= P.SHARD_TOKEN_BUDGET
        else:
            assert nxt.shard_offset == prev.shard_offset + prev.n_tokens
    # partitioning invariance: a much narrower sort must not move anything
    monkeypatch.setattr(P, "SHARD_SORT_PARTITIONS", 3)
    narrow = fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, narrow)) == sorted(map(tuple, rows))


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
def test_manifest_sort_width_invariance_and_derivation(spark):
    """The global-sort width is a pure parallelism knob: both manifests must
    be byte-identical at explicit widths 7 and 64, and the default width
    must derive from the input (>= the floor) rather than stay hardcoded —
    at 100 TB a fixed 32-way range sort would be the bottleneck stage."""
    from training_data_ops.operators import pipeline as P

    d = "/root/testdata/sf0.001"
    for fn in (P.corpus_curriculum, P.corpus_shard_manifest):
        at7 = sorted(map(tuple, fn(spark, d, num_partitions=7).collect()))
        at64 = sorted(map(tuple, fn(spark, d, num_partitions=64).collect()))
        assert at7 == at64, fn.__name__
    # the derived default respects the floor and scales with the input
    probe = spark.range(0, 1000, 1, 57)
    assert P._sort_width(probe, None) == 57
    assert P._sort_width(spark.range(10, numPartitions=2), None) == 32
    assert P._sort_width(probe, 7) == 7


def test_importance_weights_prefer_target_like_docs(spark, tmp_path):
    """DSIR semantics on a planted corpus: target docs (id % 13 == 0) are
    wall-to-wall 'alpha beta' bigrams; the above-mean keep gate must
    select them and reject off-target docs, and a non-target lookalike
    must outscore pure-noise docs. Scores are deterministic across reruns."""
    from training_data_ops.operators.pipeline import (
        corpus_importance_weights,
    )

    target_text = "alpha beta " * 10
    noise_text = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    rows = [
        Row(doc_id=0, text=target_text, lang="en", source="seed", n_chars=0),
        Row(doc_id=13, text=target_text, lang="en", source="seed", n_chars=0),
        Row(doc_id=1, text="alpha beta alpha beta filler", lang="en",
            source="web", n_chars=0),
        Row(doc_id=2, text=noise_text, lang="en", source="web", n_chars=0),
        Row(doc_id=3, text=noise_text, lang="en", source="web", n_chars=0),
        # single-token and whitespace-only docs: zero bigrams, score 0 —
        # must not abort the query (Spark sequence(1,0) is NOT empty)
        Row(doc_id=4, text="loner", lang="en", source="web", n_chars=0),
        Row(doc_id=5, text="   ", lang="en", source="web", n_chars=0),
    ]
    d = str(tmp_path / "dsir")
    spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in corpus_importance_weights(spark, d).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5, 13}
    assert out[4].score == 0 and out[5].score == 0
    # the above-mean gate keeps the target docs and drops the off-target ones
    assert out[0].keep and out[13].keep, out
    assert not out[2].keep and not out[3].keep, out
    # ranking: target-like beats off-target (its bigrams carry target mass)
    assert out[1].score > out[2].score
    again = {r.doc_id: r.score for r in corpus_importance_weights(spark, d).collect()}
    assert again == {k: v.score for k, v in out.items()}


def test_corpus_shard_manifest_oversized_doc_skips_whole_shards(spark, tmp_path):
    """A document larger than the shard budget must occupy (at least) one
    whole shard and advance shard_id past intermediate multiples — the
    prefix law, not a per-shard reset, decides assignment."""
    from training_data_ops.operators import pipeline as P

    big = "w " * (P.SHARD_TOKEN_BUDGET * 2 + 10)
    rows = [
        Row(doc_id=i, text=("a b c" if i else big), lang="en",
            source="web", n_chars=0)
        for i in range(4)
    ]
    d = str(tmp_path / "shards")
    spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in P.corpus_shard_manifest(spark, d).collect()}
    assert out[0].n_tokens == 2 * P.SHARD_TOKEN_BUDGET + 10
    import hashlib

    order = sorted(
        out.values(),
        key=lambda r: (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id),
    )
    prefix = 0
    for r in order:
        assert r.shard_id == prefix // P.SHARD_TOKEN_BUDGET
        assert r.shard_offset == prefix % P.SHARD_TOKEN_BUDGET
        prefix += r.n_tokens
    # the doc after the oversized one jumps >= 2 shards forward
    i_big = next(i for i, r in enumerate(order) if r.doc_id == 0)
    if i_big + 1 < len(order):
        assert order[i_big + 1].shard_id >= order[i_big].shard_id + 2


def test_ann_ivf_2level_recall_and_plan(spark):
    """Two-level IVF: scores it returns must be exact cosines (agree with
    brute force on shared pairs), recall must stay useful despite the
    coarse-quantizer approximation, and the plan must be the scale shape
    (no cartesian product, partial max_by before each exchange, scalar
    aggregation values only)."""
    from training_data_ops.operators.similarity import (
        sim_ann_ivf_2level,
    )

    exact = sim_topk_cosine(spark, SF_DIR).collect()
    ann_df = sim_ann_ivf_2level(spark, SF_DIR)
    plan = ann_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "partial_max_by" in plan
    assert "max_by(v#" not in plan and "max_by(embedding#" not in plan
    ann = ann_df.collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    sim_by_pair = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    ann_sets = {}
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in sim_by_pair:
            assert r.cos_sim == sim_by_pair[(r.query_id, r.neighbor_id)]
    recalls = [
        len(ann_sets.get(q, set()) & s) / len(s) for q, s in exact_sets.items()
    ]
    avg = sum(recalls) / len(recalls)
    # measured-minus-slack pin (round-7 verdict #7): recall@10 measured
    # 0.65 at sf0.01 — a floor 10 points under catches a quality
    # regression (e.g. a broken coarse tie-break) the old 0.2 floor never
    # would, while absorbing data-regeneration jitter
    assert avg >= 0.55, f"two-level IVF recall@10 {avg:.2f} (measured 0.65)"


def test_ivf_persisted_index_lossless_and_partition_pruned(spark, tmp_path):
    """The persisted IVF index answers EXACTLY like the in-memory build
    (doubles round-trip parquet bit-exactly), and the probe's candidate
    join dynamically prunes the cell_id-partitioned index scan — the
    read-only-nprobe-cells story that makes 'build once, query many'
    cheap at scale."""
    from training_data_ops.operators.similarity import (
        _ivf_probe_topk,
        ivf_index_load,
        ivf_index_save,
        sim_ann_ivf,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    work = str(tmp_path / "idx")
    ivf_index_save(emb, work)
    cent, assign = ivf_index_load(spark, work)
    out_df = _ivf_probe_topk(emb, cent, assign)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan  # DPP on the partitioned index
    assert "CartesianProduct" not in plan
    persisted = sorted(tuple(r) for r in out_df.collect())
    memory = sorted(tuple(r) for r in sim_ann_ivf(spark, SF_DIR).collect())
    assert persisted == memory


def test_ivf_incremental_gate_appends_clean_retrains_drifted(spark, tmp_path):
    """sim_ann_ivf_incremental's drift gate (round-7 verdict #6): on the
    real corpus the ingest batch is sampling-noise clean (<= 1/3 of dims
    flag → append; the registry hash-match vs sim_ann_ivf's oracle
    already proves append == rebuild), while a batch whose vectors an
    encoder change shifted flags nearly every dim and takes the retrain
    branch — exercised end-to-end on a crafted corpus where the
    md5-bucket-0 ingest rows are +0.5-shifted."""
    from pyspark.sql import functions as F

    from training_data_ops.operators.scale import widen
    from training_data_ops.operators.similarity import (
        IVF_INCR_MOD,
        NUM_CENTROIDS,
        cohort_drift_flags,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table
    from training_data_ops.registry import all_queries

    emb = load_table(spark, SF_DIR, "embeddings")
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % IVF_INCR_MOD
    )
    is_base = (F.col("vec_id") < NUM_CENTROIDS) | (bucket != 0)
    flags = cohort_drift_flags(widen(emb), is_base)
    row = flags.agg(
        F.sum(F.col("drifted").cast("long")).alias("n"), F.count("*").alias("d")
    ).first()
    assert 3 * row["n"] <= row["d"], (row["n"], row["d"])  # clean → append

    # crafted drifted ingest: shift ONLY the batch rows' embeddings
    shifted = emb.withColumn(
        "embedding",
        F.when(is_base, F.col("embedding")).otherwise(
            F.transform(F.col("embedding"), lambda x: x + F.lit(0.5))
        ),
    )
    row2 = (
        cohort_drift_flags(widen(shifted), is_base)
        .agg(F.sum(F.col("drifted").cast("long")).alias("n"), F.count("*").alias("d"))
        .first()
    )
    assert 3 * row2["n"] > row2["d"], (row2["n"], row2["d"])  # → retrain

    # end-to-end retrain branch on the crafted corpus
    shifted.write.parquet(str(tmp_path / "embeddings.parquet"))
    out = all_queries()["sim_ann_ivf_incremental"].spark(spark, str(tmp_path))
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append(r.rank)
    assert got, "retrain branch returned no neighbors"
    for q, ranks in got.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_posting_segments_layout_invariant_and_lossless(spark, tmp_path):
    """Posting segment files (round-7 verdict #3): the byte-budget layout
    is identical at sort widths 3 and 16 (prefix sums depend only on the
    tok order, never on range boundaries), the on-disk store holds the
    FULL posting lists (reload == doc_term_freq exactly), and the BM25
    read path prunes to the probed segments' partitions."""
    from training_data_ops.operators.retrieval import (
        bm25_from_segments,
        doc_term_freq,
        posting_segment_assignments,
        posting_segments_load,
        posting_segments_save,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tf = doc_term_freq(docs)
    a = sorted(
        tuple(r) for r in posting_segment_assignments(tf, num_partitions=3).collect()
    )
    b = sorted(
        tuple(r) for r in posting_segment_assignments(tf, num_partitions=16).collect()
    )
    assert a == b
    n_segments = len({r[4] for r in a})
    assert n_segments >= 2, f"budget produced {n_segments} segment(s) at sf0.01"

    work = str(tmp_path / "segs")
    posting_segments_save(docs, work)
    _, postings, _ = posting_segments_load(spark, work)
    stored = sorted(
        tuple(r) for r in postings.select("tok", "doc_id", "tf").collect()
    )
    source = sorted(tuple(r) for r in tf.select("tok", "doc_id", "tf").collect())
    assert stored == source  # full lists, not heads — lossless on disk

    out = bm25_from_segments(spark, work, ("join", "merge", "dup"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    pruned = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln
        and "PartitionFilters: [" in ln
        and "segment_id" in ln.split("PartitionFilters:")[1]
    ]
    assert pruned, plan  # the postings scan carries the segment_id filter


def test_hybrid_ann_dense_leg_dpp_and_overlap(spark, tmp_path):
    """hybrid_rrf_ann (round-7 verdict #2): the dense leg probes the
    persisted cell_id-partitioned IVF index with dynamic partition
    pruning (never a full corpus scan per query), and its fused top-10
    overlaps the exact-dense hybrid's top-10 measured-minus-slack
    (measured 0.8 at sf0.01 — the two legs share BM25, so only dense-leg
    ANN misses can diverge the fusion)."""
    from training_data_ops.operators.retrieval import (
        ivf_topk_ranks,
    )
    from training_data_ops.operators.similarity import (
        NPROBE,
        ivf_index_load,
        ivf_index_save,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table
    from training_data_ops.registry import all_queries

    emb = load_table(spark, SF_DIR, "embeddings")
    work = str(tmp_path / "idx")
    ivf_index_save(emb, work)
    cent, assign = ivf_index_load(spark, work)
    dense = ivf_topk_ranks(emb, cent, assign, 0, topn=50, nprobe=NPROBE)
    plan = dense._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan  # DPP on the partitioned index
    assert "CartesianProduct" not in plan

    ann = {r.doc_id for r in all_queries()["hybrid_rrf_ann"].spark(spark, SF_DIR).collect()}
    exact = {
        r.doc_id
        for r in all_queries()["hybrid_rrf_retrieval"].spark(spark, SF_DIR).collect()
    }
    overlap = len(ann & exact) / len(exact)
    assert overlap >= 0.6, f"fused overlap {overlap:.2f} (measured 0.8)"


def test_hybrid_batch_dense_leg_dpp_and_two_stage(spark, tmp_path):
    """ivf_topk_ranks_batch (hybrid_rrf_batch's dense leg): one probe job
    for the whole query batch — the candidate join dynamically prunes the
    cell-partitioned index to the UNION of probed cells, and the
    per-query top-k pre-ranks per (input-partition, query) so no
    query_id-only exchange sees the full score stream."""
    from pyspark.sql import functions as F

    from training_data_ops.functions.vectors import (
        as_double,
    )
    from training_data_ops.operators.retrieval import (
        ivf_topk_ranks_batch,
    )
    from training_data_ops.operators.similarity import (
        NPROBE,
        ivf_index_load,
        ivf_index_save,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    work = str(tmp_path / "idx")
    ivf_index_save(emb, work)
    cent, assign = ivf_index_load(spark, work)
    qs = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qv"),
    )
    out = ivf_topk_ranks_batch(qs, cent, assign, topn=50, nprobe=NPROBE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    assert "CartesianProduct" not in plan, plan
    lines = plan.splitlines()
    assert any(
        "WindowGroupLimit" in ln and "_pid" in ln and "query_id" in ln
        for ln in lines
    ), plan


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
def test_ann_ivf_2level_trained_recall_and_plan(spark):
    """Lloyd-trained two-level IVF (round-7 verdict #5): exact-cosine
    score agreement with brute force on shared pairs, recall pinned
    measured-minus-slack, contract flags all true, and the scale plan
    shape (no cartesian, partial max_by, scalar agg values)."""
    import math

    from training_data_ops.operators.similarity import (
        _two_level_probe_topk,
        ivf2_cells_for,
        sim_ann_ivf_2level_trained,
        two_level_assign,
        two_level_index_trained,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    contract = sim_ann_ivf_2level_trained(spark, SF_DIR)
    plan = contract._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = contract.collect()
    assert len(rows) == 10
    for r in rows:
        assert all(
            getattr(r, f)
            for f in (
                "n_neighbors_ok", "ranks_ok", "sims_sorted", "no_self",
                "sims_in_range", "coarse_cells_ok", "centroids_finite_ok",
            )
        ), r

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    assert all(r.assign_total == n for r in rows)  # completeness
    cells = ivf2_cells_for(n)
    assert all(r.fine_count == cells for r in rows)
    coarse, fine_grouped = two_level_index_trained(
        emb, cells=cells, k=max(4, math.isqrt(cells))
    )
    assign = two_level_assign(
        emb, coarse, fine_grouped, coarse_probes=2
    ).select("vec_id", "cell_id")
    nb_df = _two_level_probe_topk(
        emb, coarse, fine_grouped, assign, coarse_probes=2
    )
    nb_plan = nb_df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in nb_plan
    assert "max_by(v#" not in nb_plan and "max_by(embedding#" not in nb_plan
    nb = nb_df.collect()

    exact = sim_topk_cosine(spark, SF_DIR).collect()
    exact_sets, sim_by_pair = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        sim_by_pair[(r.query_id, r.neighbor_id)] = r.cos_sim
    ann_sets = {}
    for r in nb:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in sim_by_pair:
            # scores are EXACT cosines — rerank never approximates
            assert r.cos_sim == sim_by_pair[(r.query_id, r.neighbor_id)]
    recalls = [
        len(ann_sets.get(q, set()) & s) / len(s) for q, s in exact_sets.items()
    ]
    avg = sum(recalls) / len(recalls)
    # measured 0.62 at sf0.01 (hierarchical training + 2-probe assignment
    # and query walk) — fail if it drops >10 points (verdict #7 gate
    # style; catches e.g. a broken coarse tie-break or a training
    # regression, which the contract booleans alone would not)
    assert avg >= 0.52, f"trained two-level recall@10 {avg:.2f} (measured 0.62)"


def test_two_level_assign_survives_colinear_duplicate_centroids(spark):
    """The exact round-7 ADVICE scenario: coarse centroid 0 and fine
    centroid 1 are COLINEAR SCALED DUPLICATES (cosine(v, c) vs
    cosine(v, 2c) need not tie bit-exactly), so before the j<k pin a
    float ulp could re-home fine centroid 0 and orphan coarse cell 0 —
    silently dropping every vector that picked it in stage 1.  With the
    pin, assignment must stay complete for BOTH probe settings."""
    import math

    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )

    # 12 vectors: id 1 = 2x id 0 (scaled duplicate), rest rotate through
    # near-orthogonal directions with small perturbations
    rows = []
    for i in range(12):
        if i == 1:
            v = [2.0 * x for x in rows[0][1]]
        else:
            a = (i * 0.7) % math.pi
            v = [math.cos(a), math.sin(a), 0.01 * i, 1.0 - 0.01 * i]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells, k = 8, 4  # fine centroids 0..7, coarse 0..3 — ids 0 and 1 collide
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)
    # every coarse cell owns at least its own anchor fine centroid
    anchors = {r.co_id for r in fine_grouped.collect()}
    assert set(range(k)) <= anchors
    for probes in (1, 2):
        assign = two_level_assign(emb, coarse, fine_grouped, coarse_probes=probes)
        assert assign.count() == 12, f"rows lost at coarse_probes={probes}"


def test_two_level_assign_covers_every_vector(spark):
    """two_level_assign must emit exactly one row per corpus vector: the
    stage-2 inner join on co_id would silently drop any vector whose
    winning coarse cell had no fine members, so two_level_index pins fine
    centroid j < k to its own coarse cell (orphan-proofing independent of
    float ulp ties — round-7 ADVICE) and this test holds the completeness
    contract."""
    import math

    from training_data_ops.operators.similarity import (
        ivf2_cells_for,
        two_level_assign,
        two_level_index,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    cells = ivf2_cells_for(n)
    k = max(4, math.isqrt(cells))
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)
    assign = two_level_assign(emb, coarse, fine_grouped)
    assert assign.count() == n
    # and every fine centroid that IS a coarse centroid anchors itself
    fg = fine_grouped.where(F.col("cent_id") < k).select("cent_id", "co_id")
    assert all(r.cent_id == r.co_id for r in fg.collect())


def test_bm25_weighted_all_ones_equals_unweighted(spark):
    """bm25_weighted_topk at weight 1.0 everywhere must be bit-identical
    to bm25_topk_scores (the weighted fold skips the 1.0 multiplications
    so the IEEE sequence is literally the same)."""
    from training_data_ops.operators.retrieval import (
        bm25_topk_scores,
        bm25_weighted_topk,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    terms = ("join", "merge", "dup")
    a = bm25_topk_scores(docs, terms).collect()
    b = bm25_weighted_topk(docs, [(t, 1.0) for t in terms]).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_prf_expansion_terms_exclude_query_and_rank_by_weight(spark):
    """Expansion terms never include the original query terms; ranks are
    1..n by weight desc with tok tie-break; weights are positive."""
    from training_data_ops.operators.retrieval import (
        prf_expansion_terms,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    terms = ("join", "merge", "dup")
    rows = prf_expansion_terms(docs, terms, n_expand=5).orderBy("exp_rank").collect()
    assert [r["exp_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["tok"] not in terms for r in rows)
    assert all(r["weight"] > 0 for r in rows)
    ws = [r["weight"] for r in rows]
    assert ws == sorted(ws, reverse=True)


def test_prf_damping_bounds_expanded_scores(spark):
    """With λ→0 the expanded ranking collapses to the base ranking; with
    the registered λ the expanded score of any doc is at least its base
    score (expansion contributions are non-negative)."""
    from training_data_ops.operators.retrieval import (
        bm25_topk_scores,
        bm25_weighted_topk,
        prf_expansion_terms,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    terms = ("join", "merge", "dup")
    exp = [r["tok"] for r in prf_expansion_terms(docs, terms).orderBy("exp_rank").collect()]
    base = {r["doc_id"]: r["score"] for r in bm25_topk_scores(docs, terms, topn=500).collect()}
    lam0 = bm25_weighted_topk(docs, [(t, 1.0) for t in terms] + [(t, 0.0) for t in exp]).collect()
    for r in lam0:
        assert abs(r["score"] - base[r["doc_id"]]) < 1e-12
    lam5 = bm25_weighted_topk(docs, [(t, 1.0) for t in terms] + [(t, 0.5) for t in exp]).collect()
    for r in lam5:
        assert r["score"] >= base.get(r["doc_id"], 0.0) - 1e-12


def _py_bigram_surprisal(texts, lam=0.7, bigram_k=10**9, vocab_k=10**9):
    import math
    from collections import Counter

    toks = {i: t.split() for i, t in texts.items()}
    pairs = [(i, (ts[j], ts[j + 1])) for i, ts in toks.items() for j in range(len(ts) - 1)]
    c2 = Counter(p for _, p in pairs)
    top2 = dict(sorted(c2.items(), key=lambda kv: (-kv[1], kv[0]))[:bigram_k])
    c1 = Counter(v for _, (v, _) in pairs)
    uni = Counter(w for ts in toks.values() for w in ts)
    topu = dict(sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_k])
    n = sum(topu.values())
    mu = 1.0 - lam
    out = {}
    for i, ts in toks.items():
        if len(ts) < 2:
            continue
        s = 0.0
        for j in range(len(ts) - 1):
            v, w = ts[j], ts[j + 1]
            pml = lam * (top2[(v, w)] / c1[v]) if (v, w) in top2 else 0.0
            s += -math.log(pml + mu * ((topu.get(w, 0) + 1) / (n + 1)))
        import math as _m
        avg = _m.floor((s / (len(ts) - 1)) * 1e6) / 1e6
        out[i] = (len(ts) - 1, avg)
    return out


def test_bigram_surprisal_matches_python_reference(spark):
    from training_data_ops.operators.lm_score import (
        bigram_surprisal,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat ran on the hill",
        3: "a dog sat",
        4: "unique words only here now",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_surprisal"]) for r in bigram_surprisal(docs).collect()}
    ref = _py_bigram_surprisal(texts)
    assert set(got) == set(ref)
    for i in ref:
        assert got[i][0] == ref[i][0]
        assert abs(got[i][1] - ref[i][1]) < 2e-6, (i, got[i], ref[i])


def test_bigram_model_cap_falls_back_to_unigram(spark):
    """With bigram_k=1 only the single most frequent bigram keeps its ML
    term; every other position scores unigram-only — matched against the
    same Python reference with the cap applied."""
    from training_data_ops.operators.lm_score import (
        bigram_surprisal,
    )

    texts = {
        1: "x y x y x y",
        2: "p q r s",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_surprisal"]) for r in bigram_surprisal(docs, bigram_k=1).collect()}
    ref = _py_bigram_surprisal(texts, bigram_k=1)
    for i in ref:
        assert got[i][0] == ref[i][0]
        assert abs(got[i][1] - ref[i][1]) < 2e-6, (i, got[i], ref[i])


def test_bigram_scoring_joins_broadcast(spark):
    """The capped model and vocab must broadcast onto the pair stream —
    no sort-merge join on the Zipf-skewed token keys anywhere."""
    from training_data_ops.operators.lm_score import (
        bigram_surprisal,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = bigram_surprisal(docs)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_capped_equals_uncapped_at_fixture_scale(spark):
    """The production bucket cap (dedup_minhash_capped) must be a no-op at
    fixture scale — no honest near-dup cluster approaches the cap — while
    the plan shows the cap costs NO extra exchange (the count window rides
    the same (band, bkey) shuffle the candidate self-join needs)."""
    from training_data_ops.operators.dedup import (
        dedup_minhash_capped,
        dedup_minhash_lsh,
    )

    capped_df = dedup_minhash_capped(spark, SF_DIR)
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    uncapped = _pairs(dedup_minhash_lsh(spark, SF_DIR))
    assert capped == uncapped
    # the cap is a count WINDOW on the bucket key, never a collect or a
    # second aggregate+join of the band relation
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "count(1) windowspecdefinition(band" in plan


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
def test_embedding_lsh_capped_equals_uncapped_at_fixture_scale(spark):
    """dedup_embedding_lsh_capped must be value-identical to the uncapped
    anchor at fixture scale (no honest near-dup cluster approaches the
    256 cap) — this also pins that the coarsened shuffle groups
    (group_bits: adjacent buckets split in-kernel) change NOTHING about
    which pairs emit or their exact-fold cosines."""
    from training_data_ops.operators.dedup import (
        dedup_embedding_lsh,
        dedup_embedding_lsh_capped,
    )

    capped = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_lsh_capped(spark, SF_DIR).collect()
    }
    uncapped = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup_embedding_lsh(spark, SF_DIR).collect()
    }
    assert capped == uncapped and capped


def test_embedding_lsh_cap_drops_mega_bucket_pairs(spark):
    """The cap rule itself, pinned on the arrow kernel: with a tiny cap
    the pair set shrinks to pairs some under-cap bucket still finds —
    and every emitted pair must clear the exact-fold threshold (the
    decision pass is cap-independent)."""
    from training_data_ops.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        _embedding_lsh_pairs,
    )

    tiny = _embedding_lsh_pairs(
        spark, SF_DIR, bucket_cap=2, group_bits=10
    ).collect()
    full = _embedding_lsh_pairs(spark, SF_DIR).collect()
    tiny_pairs = {(r.vec_a, r.vec_b) for r in tiny}
    full_pairs = {(r.vec_a, r.vec_b) for r in full}
    assert tiny_pairs <= full_pairs and len(tiny_pairs) < len(full_pairs)
    assert all(r.cos_sim >= COSINE_DUP_THRESHOLD - 1e-6 for r in tiny)


def test_minhash_incremental_equals_from_scratch_restricted(spark):
    """Append ≡ from-scratch for the persisted band-bucket store: the
    incremental probe (batch signatures vs the historical store, cap
    applied across store ∪ batch) must reproduce EXACTLY the capped
    full-corpus pairs restricted to pairs involving a batch doc — same
    pair set, same verified Jaccard values."""
    from training_data_ops.operators.dedup import (
        dedup_minhash_capped,
        dedup_minhash_incremental,
    )
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )

    incr = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_incremental(spark, SF_DIR).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_capped(spark, SF_DIR).collect()
        if r.doc_a % NEW_BATCH_MOD == 0 or r.doc_b % NEW_BATCH_MOD == 0
    }
    assert incr == full and incr  # non-empty at sf0.01


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
def test_semantic_incremental_matches_frozen_rebuild_and_drift_branch(
    spark, tmp_path
):
    """dedup_semantic_incremental: (a) the frozen-index ingest (persisted
    store probed at touched cells only) must equal a from-scratch
    full-corpus assignment through the SAME history-sized grid restricted
    to batch ids — the store/probe machinery can drop no member; (b) a
    crafted encoder-shift batch takes the retrain branch end-to-end."""
    from pyspark.sql import functions as F

    from training_data_ops.operators.dedup import (
        _semantic_prune,
        dedup_semantic_incremental,
        semantic_2level_cells_for,
        semantic_coarse_for,
    )
    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    n_hist0 = emb.where(F.col("vec_id") % NEW_BATCH_MOD != 0).count()
    cells = semantic_2level_cells_for(n_hist0)
    k = semantic_coarse_for(cells)
    is_base = (F.col("vec_id") % NEW_BATCH_MOD != 0) | (F.col("vec_id") < cells)

    # from-scratch twin: index the HISTORY, assign the FULL corpus through
    # the frozen grid, prune everywhere, restrict to batch ids
    coarse, fine_grouped = two_level_index(emb.where(is_base), cells=cells, k=k)
    assign = two_level_assign(emb, coarse, fine_grouped, coarse_probes=2).persist()
    want = {
        (r.vec_id, r.cell_id, r.cent_sim, r.is_kept)
        for r in _semantic_prune(emb, assign)
        .where((F.col("vec_id") % NEW_BATCH_MOD == 0) & (F.col("vec_id") >= cells))
        .collect()
    }
    got = {
        (r.vec_id, r.cell_id, r.cent_sim, r.is_kept)
        for r in dedup_semantic_incremental(spark, SF_DIR).collect()
    }
    assert got == want and got  # non-empty at sf0.01

    # crafted drifted ingest (+0.5 on batch rows only) → retrain branch
    shifted = emb.withColumn(
        "embedding",
        F.when(is_base, F.col("embedding")).otherwise(
            F.transform(F.col("embedding"), lambda x: x + F.lit(0.5))
        ),
    )
    shifted.write.parquet(str(tmp_path / "embeddings.parquet"))
    out = dedup_semantic_incremental(spark, str(tmp_path)).collect()
    assert out, "retrain branch returned no rows"
    assert all(
        r.vec_id % NEW_BATCH_MOD == 0 for r in out
    )  # still batch-restricted


def test_zero_vector_behavior_pinned(spark):
    """Round-9 ADVICE: the 1e-300 zero-norm clamp exists only in the Arrow
    SELECTION stages, so the 'kernels agree on degenerate input' claim was
    assumed, not pinned.  Actual semantics under this engine's ANSI mode,
    pinned here: every kernel that EMITS a cosine — the fold twins and
    two_level_assign's exact-fold re-scored output (both kernels) — fails
    fast with DIVIDE_BY_ZERO on an all-zero vector; the one selection-only
    kernel (flat_assign_arrow, Lloyd's training assignment) tolerates it
    deterministically: sim clamps to exactly 0.0 everywhere and the vector
    lands in the lowest cell id."""
    import numpy as np

    from training_data_ops.functions.vectors import cosine
    from training_data_ops.operators.similarity import (
        flat_assign_arrow,
        two_level_assign,
        two_level_index,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(5)]
    rows.append((5, [0.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # 1. fold cosine: ANSI fail-fast, not NaN
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        emb.select(cosine(F.col("embedding"), F.col("embedding"))).collect()

    # 2. both two_level_assign kernels fail fast (the arrow kernel's
    #    emitted cent_sim is the exact fold re-score)
    coarse, fine = two_level_index(emb, k=2, cells=4)
    for kernel in ("arrow", "fold"):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            two_level_assign(emb, coarse, fine, kernel=kernel).collect()

    # 3. the selection-only training kernel tolerates the zero vector:
    #    clamped sims are exactly 0.0 against every centroid, first-argmax
    #    breaks to the lowest cent_id
    got = {
        r.vec_id: r.cell_id
        for r in flat_assign_arrow(
            emb.select("vec_id", F.col("embedding").alias("v")),
            [(0, rows[0][1]), (1, rows[1][1])],
        ).collect()
    }
    assert got[5] == 0  # lowest cell id, deterministically
    assert set(got) == {0, 1, 2, 3, 4, 5}  # nothing dropped


def test_embedding_lsh_kernels_agree(spark):
    """Round-10: dedup_embedding_lsh's verify moved in-bucket (float32
    GEMM prune + exact-fold decision) after the sf10 profile measured the
    pair-join fold verify at 182 s of 215 s.  The arrow and fold kernels
    must emit the IDENTICAL pair set and sims — the exact fold makes the
    decision in both, so this pins the prune's no-miss property and the
    GEMM sign bits."""
    from training_data_ops.operators.dedup import (
        _embedding_lsh_pairs,
    )

    def run(kernel):
        return sorted(
            tuple(r)
            for r in _embedding_lsh_pairs(
                spark, SF_DIR, kernel=kernel
            ).collect()
        )

    arrow, fold = run("arrow"), run("fold")
    assert arrow == fold
    assert len(arrow) > 0  # non-vacuous


def test_lsh_sign_gemm_matches_fold_near_zero(spark):
    """The arrow signature kernel decides each bucket bit with a float64
    GEMM sign test while the fold twin (and the DuckDB oracle) fold the
    same dot left-to-right.  Engineer vectors whose plane-dot sits at
    ±1e-12 — 100x the GEMM-vs-fold ulp noise on 64-dim dots, so both
    must agree on a sane platform and diverge loudly on a broken one."""
    import numpy as np

    from training_data_ops.operators.dedup import (
        DEDUP_LSH_TABLES,
        _embedding_lsh_survivors_arrow,
    )
    from training_data_ops.operators.similarity import (
        LSH_PLANE_BASE,
        lsh_planes,
        lsh_signatures,
    )
    from training_data_ops.functions.vectors import (
        as_double,
    )

    dim = 8
    rng = np.random.default_rng(11)
    rows = []
    # plane stock: ids BASE .. BASE + 2*L*B - 1 (bits=1 here)
    bits = 1
    for p in range(DEDUP_LSH_TABLES * bits):
        a = rng.normal(size=dim)
        rows.append((LSH_PLANE_BASE + 2 * p, a.tolist()))
        rows.append((LSH_PLANE_BASE + 2 * p + 1, (a - rng.normal(size=dim)).tolist()))
    # probe vectors: one generic, two engineered to sit ±1e-12 off plane 0
    planes0 = np.asarray(rows[0][1]) - np.asarray(rows[1][1])
    perp = rng.normal(size=dim)
    perp -= planes0 * (perp @ planes0) / (planes0 @ planes0)
    unit0 = planes0 / np.sqrt(planes0 @ planes0)
    rows.append((0, (perp + 1e-12 * unit0).tolist()))
    rows.append((1, (perp - 1e-12 * unit0).tolist()))
    rows.append((2, rng.normal(size=dim).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = lsh_planes(emb, tables=DEDUP_LSH_TABLES, bits=bits)

    import pyspark.sql.functions as F

    fold_sigs = {
        (r.vec_id, r.table_id): r.bucket
        for r in lsh_signatures(
            emb.select("vec_id", as_double(F.col("embedding")).alias("v")),
            planes,
            tables=DEDUP_LSH_TABLES,
        ).collect()
        if r.vec_id < 3
    }
    # recover the arrow kernel's buckets through its survivor pairs is
    # indirect; instead replay its sign math directly on the collected
    # planes — the same GEMM expression the kernel runs
    pl = sorted(
        (int(r["table_id"]), int(r["weight"]), list(r["dv"]))
        for r in planes.collect()
    )
    DV = np.stack([np.asarray(dv) for _, _, dv in pl])
    W = np.array([w for _, w, _ in pl])
    T = np.array([t for t, _, _ in pl])
    for vid in range(3):
        v = np.asarray(rows[[r[0] for r in rows].index(vid)][1])
        bits_m = (v @ DV.T) >= 0.0
        for t in range(DEDUP_LSH_TABLES):
            got = int((bits_m[T == t] * W[T == t]).sum())
            assert got == fold_sigs[(vid, t)], (vid, t)


def test_pca_power_kernels_agree(spark):
    """Round-10: the power-iteration pass moved to GEMV partials (the fold
    form ran n interpreted dots AND shuffled n*dim scalar rows per pass —
    >590 s at sf100 for the 12-step train).  Both kernels are valid under
    the contract gates; they must converge to the SAME direction (the
    iteration is contractive, so order-of-summation noise cannot push
    them apart) and both must satisfy the registered query's booleans."""
    import numpy as np

    from training_data_ops.operators.similarity import (
        pca_power_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    va, la = pca_power_train(emb, kernel="arrow")
    vf, lf = pca_power_train(emb, kernel="fold")
    va, vf = np.asarray(va), np.asarray(vf)
    # same direction (sign-aligned) to far tighter than the contract's 10%
    assert abs(abs(float(va @ vf)) - 1.0) < 1e-9
    assert abs(la - lf) <= 1e-6 * abs(lf)
