"""Training-data pipeline ops: dedup / textstats / similarity / multimodal.

Run over the driver's flat documents/embeddings tables at sf0.001.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_hadoop_spark.operators.dedup import (
    exact_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from osm_hadoop_spark.operators.multimodal import (
    decode_metadata,
    frame_sample_stub,
    resize_stub,
    synth_media_bytes,
)
from osm_hadoop_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    cosine_col,
)
from osm_hadoop_spark.operators.textstats import (
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_counts(spark, docs):
    out = token_counts(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    r = {x["doc_id"]: x for x in rows}
    pdf = docs.toPandas().set_index("doc_id")
    for did in list(pdf.index)[:50]:
        text = pdf.loc[did, "text"] or ""
        assert r[did]["n_ws_tokens"] == len(text.split())
        assert r[did]["n_chars_measured"] == len(text)


def test_token_counts_empty_text(spark):
    d = spark.createDataFrame([(1, ""), (2, "   "), (3, "one two")],
                              "doc_id long, text string")
    got = {r["doc_id"]: r["n_ws_tokens"] for r in token_counts(d).collect()}
    assert got == {1: 0, 2: 0, 3: 2}


def test_quality_scores(spark, docs):
    out = quality_scores(docs).collect()
    for r in out[:100]:
        expected_keep = (
            r["n_ws_tokens"] >= 5
            and 100 * r["n_punct"] <= 30 * r["n_ws_tokens"]
            and 100 * r["n_stop"] >= 2 * r["n_ws_tokens"]
        )
        assert r["keep"] == expected_keep


def test_lang_id_deterministic_rule(spark):
    d = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is warm"),
         (2, "le chat et la porte de la maison"),
         (3, "der hund und die katze ist nicht da"),
         (4, "xyzzy qwerty plugh")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(d).collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_fingerprints_shape(spark, docs):
    out = fingerprints(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r["text_h60"] is not None and r["text_h60"] >= 0
        if r["n_selected"] == 0:
            assert r["min_selected"] is None


def test_exact_clusters(spark):
    d = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    got = {r["text_md5"]: (r["n_docs"], r["rep_doc"]) for r in exact_clusters(d).collect()}
    assert sorted(v[0] for v in got.values()) == [1, 2]
    assert min(v[1] for v in got.values() if v[0] == 2) == 1


def test_jaccard_and_minhash_find_planted_dups(spark, docs):
    """Plant two near-duplicates; both families must find them."""
    base = docs.limit(20)
    pdf = base.toPandas()
    text0 = pdf["text"].iloc[0]
    words = text0.split()
    words[len(words) // 2] = "PERTURBED"
    near = " ".join(words)
    planted = spark.createDataFrame(
        [(900001, text0, "en", "dup", len(text0)),
         (900002, near, "en", "dup", len(near))],
        base.schema,
    )
    corpus = base.unionByName(planted)
    jp = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(corpus, 5, 10).collect()}
    assert any({a, b} >= {0, 900001} or {a, b} >= {900001, 900002} for a, b in jp)
    assert (900001, 900002) in jp or (int(pdf["doc_id"].iloc[0]), 900001) in jp
    mh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(corpus, m=8, bands=4).collect()}
    assert (int(pdf["doc_id"].iloc[0]), 900001) in mh  # exact dup always caught


def test_simhash_pairs_exact_dup(spark, docs):
    base = docs.limit(15)
    text0 = base.toPandas()["text"].iloc[0]
    planted = spark.createDataFrame(
        [(900001, text0, "en", "dup", len(text0))], base.schema
    )
    corpus = base.unionByName(planted)
    pairs = simhash_pairs(corpus, bits=16, max_hamming=2).collect()
    assert any(r["doc_a"] == 0 and r["doc_b"] == 900001 and r["hamming"] == 0
               for r in pairs)


def test_brute_force_topk_matches_numpy(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = brute_force_topk(emb, queries, k=4).collect()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].apply(np.asarray)).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    ids = pdf["vec_id"].to_numpy()
    for qi in range(3):
        qv = mat[qi]
        scores = mat @ qv / (norms * np.linalg.norm(qv))
        order = sorted(
            [(float(-s), int(i)) for s, i in zip(scores, ids) if i != ids[qi]]
        )[:4]
        expected = [i for _, i in order]
        got_q = sorted(
            [(r["rank"], r["vec_id"]) for r in got if r["query_id"] == ids[qi]]
        )
        assert [v for _, v in got_q] == expected


def test_ann_lsh_recall(spark, emb):
    queries = emb.limit(20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = brute_force_topk(emb, queries, k=3).collect()
    approx = ann_lsh_topk(emb, queries, k=3, dim=64, n_planes=5, probes=1).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # random 64-dim vectors have near-orthogonal "neighbors" — the hardest
    # case for hyperplane LSH; multi-probe(1) on 6 planes recovers a useful
    # fraction, and that is what this asserts (structured data does better)
    assert recall > 0.2
    # every approx hit must be a real (within-bucket) neighbor of the query
    assert all(q != v for q, v in approx_set)


def test_embedding_neardup_pairs(spark, emb):
    from osm_hadoop_spark.operators.similarity import embedding_neardup_pairs

    # plant exact duplicates (cosine 1.0 -> identical bucket, always found)
    base = emb.select("vec_id", "embedding")
    dups = base.limit(5).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dups)
    got = embedding_neardup_pairs(
        corpus, threshold_num=99, threshold_den=100, dim=64, n_planes=6
    ).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in got}
    planted = {(r["vec_id"], r["vec_id"] + 50000) for r in emb.limit(5).collect()}
    assert planted <= pairs  # every exact dup recovered
    for r in got:
        assert r["score"] * 100 >= 99
        assert r["vec_a"] < r["vec_b"]
    # each pair appears exactly once (bucket + 1-flip probing cannot dupe)
    assert len(pairs) == len(got)


def test_multimodal_plumbing(spark, docs):
    media = synth_media_bytes(docs.limit(30))
    meta = decode_metadata(media.select("doc_id", "media"))
    rows = meta.collect()
    assert len(rows) == 30
    for r in rows:
        assert 16 <= r["width"] < 256 and 12 <= r["height"] < 192
        assert 1 <= r["n_frames"] <= 8
    resized = media.select("doc_id", resize_stub("media").alias("media2"))
    meta2 = {r["doc_id"]: r for r in decode_metadata(
        resized.withColumnRenamed("media2", "media")).collect()}
    for r in rows:
        assert meta2[r["doc_id"]]["width"] == max(r["width"] // 2, 1)
    frames = media.select("doc_id", frame_sample_stub("media").alias("frames")).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for fr in frames:
        assert len(fr["frames"]) == by_id[fr["doc_id"]]["n_frames"]


def test_multimodal_decode_rejects_non_stub(spark):
    d = spark.createDataFrame([(1, bytearray(b"JUNKDATA0123"))], "doc_id long, media binary")
    # without PIL: NotImplementedError stub boundary; with PIL: the codec
    # itself rejects the junk buffer (UnidentifiedImageError)
    with pytest.raises(
        Exception, match="NotImplementedError|stub|OSMM|decoding|identify"
    ):
        decode_metadata(d).collect()


def test_multimodal_vectorized_batch_matches_scalar():
    """_decode_batch (np.frombuffer over an offsets array) must agree with
    the scalar _decode_header on every row, including degenerate lengths."""
    from osm_hadoop_spark.operators.multimodal import (
        HEADER_LEN,
        MEDIA_MAGIC,
        _decode_batch,
        _decode_header,
    )

    bufs = []
    for i in range(257):
        w, h, fr, kd = (i * 7) % 65536, (i * 13) % 65536, i % 9 + 1, i % 3
        header = MEDIA_MAGIC + bytes(
            [w & 255, w >> 8, h & 255, h >> 8, fr & 255, fr >> 8, kd & 255, kd >> 8]
        )
        bufs.append(header + b"x" * (i % 31))
    got = _decode_batch(bufs)
    for i, buf in enumerate(bufs):
        w, h, fr, kd = _decode_header(buf)
        assert (got["width"][i], got["height"][i], got["n_frames"][i],
                got["kind"][i], got["n_bytes"][i]) == (
            w, h, fr, kd, len(buf) - HEADER_LEN)
    # empty batch: schema-stable, no crash
    assert list(_decode_batch([]).columns) == [
        "width", "height", "n_frames", "kind", "n_bytes"]


def test_ann_ivf_recall(spark, emb):
    from osm_hadoop_spark.operators.similarity import ann_ivf_topk

    queries = emb.limit(20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = brute_force_topk(emb, queries, k=3).collect()
    approx = ann_ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=3).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe=3 of 8 cells scans ~3/8 of the corpus; random vectors are the
    # adversarial case, structured embeddings cluster far better
    assert recall > 0.3
    # determinism: same fit + assignment on a second run
    approx2 = ann_ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=3).collect()
    assert {(r["query_id"], r["vec_id"], r["rank"]) for r in approx2} == {
        (r["query_id"], r["vec_id"], r["rank"]) for r in approx
    }


def _neardup_brute_force(pdf, threshold_num, threshold_den, dim, n_planes, seed=42):
    """NumPy recomputation of embedding_neardup_pairs: candidates are the
    pairs whose LSH buckets differ in at most one bit (own bucket plus the
    1-flip probes), the score is the JVM cosine's arithmetic (float32
    products widened to double, summed left to right)."""
    from osm_hadoop_spark.operators.similarity import _plane_matrix

    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
    signs = (mat.astype(np.float64) @ _plane_matrix(dim, n_planes, seed).T) >= 0
    buckets = signs @ (1 << np.arange(n_planes, dtype=np.int64))
    flips = buckets[:, None] ^ buckets[None, :]
    close = (flips & (flips - 1)) == 0  # popcount <= 1
    ia, ib = np.nonzero(close & (ids[:, None] < ids[None, :]))

    def seqsum(prods):
        return np.cumsum(prods.astype(np.float64), axis=1)[:, -1]

    dot = seqsum(mat[ia] * mat[ib])
    norm = np.sqrt(seqsum(mat * mat))
    score = dot / (norm[ia] * norm[ib])
    keep = score * threshold_den >= float(threshold_num)
    return {(int(ids[a]), int(ids[b]), float(c))
            for a, b, c in zip(ia[keep], ib[keep], score[keep])}


def test_embedding_neardup_matches_brute_force(spark, emb):
    """Pairs and bit-identical scores equal the NumPy brute force over the
    same bucket rule, on a corpus with planted perturbed near-duplicates
    (some of which straddle a hyperplane, so the 1-flip probe matters)."""
    from osm_hadoop_spark.operators.similarity import embedding_neardup_pairs

    base = emb.select("vec_id", "embedding")
    near = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with("embedding", F.reverse("embedding"), lambda x, y: x + 0.3 * y)
        .cast("array<float>").alias("embedding"),
    )
    corpus = base.unionByName(near).cache()
    kw = dict(threshold_num=9, threshold_den=10, dim=64, n_planes=6)
    rows = embedding_neardup_pairs(corpus, **kw).collect()
    got = {(r["vec_a"], r["vec_b"], r["score"]) for r in rows}
    want = _neardup_brute_force(corpus.toPandas(), **kw)
    corpus.unpersist()
    assert len(got) == len(rows)
    assert got == want
    assert sum(b - a == 100000 for a, b, _ in want) > 10


def test_corpus_prep_fused_equals_composed(spark, docs):
    """The fused single-scan corpus_prep plan must equal the
    operator-by-operator join chain row-for-row, and its physical plan
    must contain exactly ONE shuffle (the dedup window)."""
    from pyspark.sql import functions as F

    from osm_hadoop_spark.operators.corpus import corpus_prep
    from osm_hadoop_spark.operators.dedup import exact_clusters
    from osm_hadoop_spark.operators.sampling import stratified_sample
    from osm_hadoop_spark.operators.textstats import lang_id

    d = docs.select("doc_id", "text")
    rates, default_num, salt = {"en": 6000, "de": 9000}, 3000, "prep"

    fused = corpus_prep(d, rates=rates, default_num=default_num, salt=salt)

    q = quality_scores(d).filter("keep").select("doc_id")
    lang = lang_id(d).select("doc_id", "pred_lang")
    kept = d.join(q, "doc_id").join(lang, "doc_id")
    reps = exact_clusters(kept).select(F.col("rep_doc").alias("doc_id"))
    composed = (
        stratified_sample(
            kept.join(reps, "doc_id").withColumn(
                "doc_key", F.col("doc_id").cast("string")
            ),
            key="doc_key", stratum="pred_lang", rates=rates,
            default_num=default_num, salt=salt,
        ).select("doc_id", "pred_lang")
    )
    # plan shape BEFORE execution (post-run AQE rendering duplicates the
    # exchange in the string): exactly one shuffle — the dedup window
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan

    a = set(map(tuple, fused.collect()))
    b = set(map(tuple, composed.collect()))
    assert a == b and len(a) > 0


def test_prefix_jaccard_exact_and_complete(spark, docs):
    """prefix_jaccard_pairs must equal the FULL quadratic ground truth —
    the completeness property that distinguishes it from the blocked and
    LSH families (which may miss pairs)."""
    from osm_hadoop_spark.operators.dedup import (
        prefix_jaccard_pairs,
        shingles_col,
        tokens_col,
    )
    from pyspark.sql import functions as F

    corpus = docs.limit(60)
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in corpus.filter(F.size(tokens_col()) >= 3)
        .select("doc_id", shingles_col(3).alias("sh")).collect()
    }
    ids = sorted(sh)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            uni = len(sh[a] | sh[b])
            if inter * 10 >= uni * 3:
                want.add((a, b, inter, uni))
    got = {
        (r["doc_a"], r["doc_b"], r["inter"], r["uni"])
        for r in prefix_jaccard_pairs(corpus, t_num=3, t_den=10).collect()
    }
    assert got == want
    # and it is a (recall) superset of the 1-band blocked variant
    blocked = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(corpus, 3, 10).collect()
    }
    assert blocked <= {(a, b) for a, b, _, _ in got}


def test_dup_substring_spans_vs_brute(spark, docs):
    """dup_substring_spans must equal an independent Python brute force
    (own tokenizer, own md5, own island merge), and the plan must stay
    JVM-only with the gram projection reused across both consumers."""
    import hashlib
    import re

    from osm_hadoop_spark.operators.dedup import dup_substring_spans

    corpus = docs.limit(80)
    k = 3

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    texts = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    grams = {}  # doc -> [(pos, gram)]
    for d, t in texts.items():
        toks = re.split(r"\s+", t.strip()) if t.strip() else []
        grams[d] = [
            (i + 1, h60py(" ".join(toks[i:i + k])))
            for i in range(len(toks) - k + 1)
        ]
    docs_per_gram = {}
    for d, pgs in grams.items():
        for _, g in pgs:
            docs_per_gram.setdefault(g, set()).add(d)
    dup = {g for g, ds in docs_per_gram.items() if len(ds) >= 2}
    want = set()
    for d, pgs in grams.items():
        hit = sorted({p for p, g in pgs if g in dup})
        run = []
        for p in hit:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.add((d, run[0], run[-1] + k - 1, len(run)))
                run = [p]
        if run:
            want.add((d, run[0], run[-1] + k - 1, len(run)))

    out = dup_substring_spans(corpus, k=k)
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in out.collect()
    }
    assert got == want and len(want) > 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the text relation is read once and shared: ReusedExchange when the
    # input is a bare scan, InMemoryTableScan when the fixture is cached
    assert "ReusedExchange" in plan or "InMemoryTableScan" in plan


def test_inverted_index_vs_brute_and_shards(spark, docs):
    """inverted_index equals an independent Python index build; sharded
    output reassembles exactly to the unsharded one; plan stays JVM."""
    import hashlib
    import re

    from osm_hadoop_spark.operators.textstats import inverted_index

    corpus = docs.limit(50)

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    idx = {}  # term -> {doc: [pos...]}
    for r in corpus.select("doc_id", "text").collect():
        toks = re.split(r"\s+", r["text"].strip()) if r["text"].strip() else []
        for i, t in enumerate(toks, start=1):
            idx.setdefault(h60py(t), {}).setdefault(r["doc_id"], []).append(i)
    want = {
        (
            term,
            0,
            len(pd),
            sum(len(ps) for ps in pd.values()),
            ";".join(
                f"{d}:{','.join(map(str, sorted(ps)))}"
                for d, ps in sorted(pd.items())
            ),
        )
        for term, pd in idx.items()
    }
    out = inverted_index(corpus)
    got = {
        (r["term"], r["shard"], r["df"], r["ctf"], r["postings"])
        for r in out.collect()
    }
    assert got == want and len(want) > 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan

    # sharded index reassembles losslessly: per term, union of shard
    # postings == the unsharded postings; df/ctf sums match
    sharded = inverted_index(corpus, shard_bits=2).collect()
    re_df = {}
    for r in sharded:
        agg = re_df.setdefault(r["term"], [0, 0, []])
        agg[0] += r["df"]; agg[1] += r["ctf"]
        agg[2].extend(r["postings"].split(";"))
    flat = {
        (t, 0, df, ctf,
         ";".join(sorted(entries, key=lambda e: int(e.split(":")[0]))))
        for t, (df, ctf, entries) in re_df.items()
    }
    assert flat == want

    # min_df gate keeps/drops a term as a unit even when sharded
    gated = inverted_index(corpus, min_df=2, shard_bits=2)
    kept = {r["term"] for r in gated.collect()}
    assert kept == {t for t, pd in idx.items() if len(pd) >= 2}


def test_ann_pq_topk_integer_exact(spark, emb):
    """PQ-ADC output must equal a plain-Python replication of encode +
    table + ADC from the same codebooks (all-integer, so exact), and the
    planted exact duplicate of a query must carry the query's own
    self-quantization distance."""
    from osm_hadoop_spark.operators.similarity import (
        _pq_int,
        ann_pq_topk,
        pq_fit_codebooks,
    )

    m, ksub, k = 8, 16, 5
    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["dist"])
        for r in ann_pq_topk(emb, queries, k=k, m=m, ksub=ksub).collect()
    }

    cb = pq_fit_codebooks(emb, m=m, ksub=ksub)
    sub = cb.shape[2]
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].tolist()
    X = _pq_int(np.stack(pdf["embedding"].apply(np.asarray).to_numpy()))

    def enc(v):
        out = []
        for i in range(m):
            best, bj = None, None
            for j in range(ksub):
                d = int(((v[i * sub:(i + 1) * sub] - cb[i][j]) ** 2).sum())
                if best is None or d < best:
                    best, bj = d, j
            out.append(bj)
        return out

    codes = {vid: enc(X[r]) for r, vid in enumerate(ids)}
    qids = ids[:8]
    for qi in qids:
        qv = X[ids.index(qi)]
        tab = [
            [int(((qv[i * sub:(i + 1) * sub] - cb[i][j]) ** 2).sum())
             for j in range(ksub)]
            for i in range(m)
        ]
        scored = sorted(
            (sum(tab[i][codes[v][i]] for i in range(m)), v)
            for v in ids if v != qi
        )[:k]
        for rank, (d, v) in enumerate(scored, start=1):
            assert got[(qi, rank)] == (v, d)

    # all distances are integers (bigint column), never floats
    assert all(isinstance(d, int) for _, d in got.values())
