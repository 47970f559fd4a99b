"""ANN recall vs brute force; multimodal plumbing determinism; langid."""

from __future__ import annotations

from spacetime_crawler_spark.operators import multimodal, similarity, textstats

SF_DIR = "/root/testdata/sf0.01"


def test_ann_buckets_balanced(spark, tmp_path):
    """The materialized ANN index holds every vector once per table, and
    each table's sign-bit buckets are balanced."""
    index_dir = str(tmp_path / "ann_idx")
    similarity.build_ann_index(spark, SF_DIR, index_dir)
    rows = spark.read.parquet(index_dir).select("vec_id", "table", "bucket").collect()
    n_vecs = len({r.vec_id for r in rows})
    assert len(rows) == n_vecs * similarity.LSH_TABLES
    per_table = {}
    for r in rows:
        per_table.setdefault(r.table, {}).setdefault(r.bucket, 0)
        per_table[r.table][r.bucket] += 1
    assert len(per_table) == similarity.LSH_TABLES
    for buckets in per_table.values():
        # 3 sign bits → up to 8 buckets; random vectors spread across most
        assert len(buckets) >= 4
        assert max(buckets.values()) < n_vecs * 0.5


def test_ann_lsh_recall(spark):
    exact = [r.vec_id for r in similarity.sim_topk_bruteforce(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in similarity.sim_ann_lsh(spark, SF_DIR).collect()]
    # Hamming≤1 multi-probe over 12 bits: expect to recover most of top-5;
    # require ≥ 2/5 as the floor (ANN is approximate by construction) and
    # that everything returned is genuinely high-cosine (subset check is not
    # required: ANN may return items just below the exact top-5).
    overlap = len(set(exact) & set(approx))
    assert overlap >= 2, (exact, approx)


def test_ann_multiprobe_recall_geq_single_probe(spark):
    """Hamming-1 multi-probe must dominate single-probe at EQUAL table
    count: its candidate bucket set is a superset, so recall of the exact
    top-k can only rise; assert both the recall ordering and that the
    multi-probe bucket set is a strict superset of the single-probe one
    (k extra buckets per table)."""
    exact = {r.vec_id
             for r in similarity.sim_topk_bruteforce(spark, SF_DIR).collect()}
    single = {r.vec_id
              for r in similarity.sim_ann_lsh(spark, SF_DIR).collect()}
    multi = {r.vec_id
             for r in similarity.sim_ann_multiprobe(spark, SF_DIR).collect()}
    assert len(exact & multi) >= len(exact & single), (exact, single, multi)
    # driver-side probe set: (k+1) pairs per table, exact pairs included
    from spacetime_crawler_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    qv = list(
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == similarity._QUERY_VEC_ID)
        .collect()[0].embedding
    )
    p0 = set(similarity._query_buckets(qv))
    p1 = set(similarity._query_buckets(qv, hamming=1))
    assert p0 < p1
    assert len(p1) == similarity.LSH_TABLES * (similarity.LSH_BITS_PER_TABLE + 1)


def test_ann_index_probe_prunes_partitions_and_matches_lsh(spark, tmp_path):
    """The materialized ANN path: (1) the probe's parquet scan carries
    PartitionFilters on (table, bucket) — i.e. it reads only the query's L
    directories, not the index; (2) results are identical to the in-memory
    sim_ann_lsh path (same planes, same rerank)."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from spacetime_crawler_spark.sources.tables import load_table

    index_dir = str(tmp_path / "ann_index")
    similarity.build_ann_index(spark, SF_DIR, index_dir)
    emb = load_table(spark, SF_DIR, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == similarity._QUERY_VEC_ID)
              .collect()[0].embedding)
    probe = similarity.probe_ann_index(
        spark, index_dir, qv, exclude_vec_id=similarity._QUERY_VEC_ID
    )

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan[:1500]
    assert "table" in pf[0] and "bucket" in pf[0], pf[0]
    # the filter must NOT be pushed as a data filter only — partition columns
    # prune directories before any row is read
    assert "[]" not in pf[0].split("PartitionFilters:")[1][:6]

    got = [(r.vec_id, r.cos_sim) for r in probe.collect()]
    want = [(r.vec_id, r.cos_sim)
            for r in similarity.sim_ann_lsh(spark, SF_DIR).collect()]
    assert got == want

    # multi-probe (hamming=1) still prunes — L·(k+1) directories, never a
    # full scan — and agrees with the in-memory multi-probe path
    probe_mp = similarity.probe_ann_index(
        spark, index_dir, qv,
        exclude_vec_id=similarity._QUERY_VEC_ID, hamming=1,
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe_mp.explain(mode="formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and "table" in pf[0] and "bucket" in pf[0], pf
    assert "[]" not in pf[0].split("PartitionFilters:")[1][:6]
    got_mp = [(r.vec_id, r.cos_sim) for r in probe_mp.collect()]
    want_mp = [(r.vec_id, r.cos_sim)
               for r in similarity.sim_ann_multiprobe(spark, SF_DIR).collect()]
    assert got_mp == want_mp


def test_langid_trigram_snippets_unseen_vocab(spark):
    """Char-trigram langid must classify snippets whose WORDS appear in no
    profile — trigram fragments ('ing', 'sch', 'ció', …) generalize where
    marker-word lists cannot.  Every content word below is outside the old
    marker lists; several ('wandering', 'ciudad', 'während', 'chantaient')
    are outside any pinned list entirely."""
    pdf = [
        (1, "wandering slowly through ancient streets during the evening rain"),
        (2, "cuando llegamos a la ciudad encontramos una plaza hermosa del siglo pasado"),
        (3, "während die kinder durch den wald gingen und leise lieder sangen"),
        (4, "les enfants marchaient dans la rue et chantaient une chanson douce"),
        (5, "wo3 men5 zai4 zhe4 li3 you3 hen3 duo1 hao3 peng2 you3"),
        (6, "qqq vvv kkk"),  # no profile hits anywhere
        (7, "quando chegamos não encontramos informação sobre a situação da cidade"),
        (8, "quando arrivammo nella città vedemmo una piazza meravigliosa con molte persone"),
        (9, "toen wij door het bos liepen zagen een mooie plek van de rivier"),
        (10, "kogda my prishli v etot gorod my uvideli bolshuju ploshchad"
             " kotoraja byla ukrashena starymi domami"),
    ]
    df = spark.createDataFrame(pdf, ["doc_id", "text"])
    got = {r.doc_id: (r.pred_lang, r.n_hits, r.margin, r.is_reliable)
           for r in textstats.langid_scores(df).collect()}
    assert got[1][0] == "en", got
    assert got[2][0] == "es", got
    assert got[3][0] == "de", got
    assert got[4][0] == "fr", got
    assert got[5][0] == "zh", got
    assert got[6][:2] == ("und", 0), got
    assert got[7][0] == "pt", got
    assert got[8][0] == "it", got
    assert got[9][0] == "nl", got
    assert got[10][0] == "ru", got
    # confidence contract: zero-hit rows are never reliable; a clearly
    # in-language snippet has positive margin and passes the gate
    assert got[6][3] is False and got[6][2] == 0, got
    assert got[1][3] is True and got[1][2] >= 2, got
    for d in (2, 3, 4, 5, 7, 8, 9, 10):
        assert got[d][2] >= 1, (d, got[d])


def test_langid_native_scripts(spark):
    """Native-script layer: UTF-8 Cyrillic Russian resolves through the
    extended ru trigram profile; unsegmented CJK resolves through the
    script-count layer (Han→zh, kana→ja, Hangul→ko) — exact-trigram
    matching cannot fire on unsegmented CJK, so script counts decide.
    A Latin document QUOTING a few CJK characters must not flip."""
    pdf = [
        (1, "когда мы пришли в этот город мы увидели большую площадь"
            " которая была украшена старыми домами"),
        (2, "我们在这里有很多好朋友他们都住在这个城市的中心每天一起工作学习"),
        (3, "私たちはこの町にたくさんの友達がいてみんなで一緒に働いています"),
        (4, "우리는 이 도시에 많은 친구들이 있고 모두 함께 일하고 있습니다"
            " 그들은 도시의 중심에 살고 있습니다"),
        # Latin text mentioning two Han chars — below both script floors
        (5, "the character 中国 appears twice in this long english sentence"
            " about the history of writing systems and their evolution"),
        # majority-English doc with a LONG CJK quotation (past the script
        # floor and fraction): the trigram evidence must outweigh the
        # quoted script — still an English call
        (7, "the ancient text reads 我们在这里有很多好朋友他们都住在这个城市的中心"
            " which according to the translation describes the friendship"
            " between the people of the city and those who worked with them"
            " in the markets during the early years of the dynasty"),
        # kanji-heavy Japanese still carries kana — ja, not zh
        (6, "東京都の中心部では毎日多くの人々が電車で通勤していますが休日には公園を散歩します"),
    ]
    df = spark.createDataFrame(pdf, ["doc_id", "text"])
    got = {r.doc_id: (r.pred_lang, r.n_hits, r.margin, r.is_reliable)
           for r in textstats.langid_scores(df).collect()}
    assert got[1][0] == "ru", got
    assert got[2][0] == "zh", got
    assert got[3][0] == "ja", got
    assert got[4][0] == "ko", got
    assert got[5][0] == "en", got
    assert got[6][0] == "ja", got
    assert got[7][0] == "en", got  # long CJK quote must not flip the call
    # confidence contract extends to script calls: dominant-script rows are
    # reliable, the quoting row stays an ordinary (reliable) trigram call
    for d in (1, 2, 3, 4, 6):
        assert got[d][3] is True and got[d][2] >= 2, (d, got[d])


def test_langid_short_text_guard(spark):
    """Spark's sequence(1, 0) is DESCENDING, not empty — texts shorter than
    one trigram must hit the explicit guard, not crash or mis-score."""
    df = spark.createDataFrame([(1, "ab"), (2, ""), (3, None)], "doc_id long, text string")
    got = {r.doc_id: r.pred_lang for r in textstats.langid_scores(df).collect()}
    assert got == {1: "und", 2: "und", 3: "und"}


def test_multimodal_fake_features_deterministic(spark):
    a = {r.doc_id: tuple(r.features) for r in
         multimodal.multimodal_fake_features_array(spark, SF_DIR).limit(50).collect()}
    b = {r.doc_id: tuple(r.features) for r in
         multimodal.multimodal_fake_features_array(spark, SF_DIR).limit(50).collect()}
    assert a == b
    for feats in a.values():
        assert len(feats) == multimodal.FEATURE_DIM
        assert all(0.0 <= f < 1.0 for f in feats)


def test_multimodal_fake_features_driver_entry_is_scalar_and_consistent(spark):
    """The registry entry must expose only hashable scalar columns (the
    driver canonicalizer sorts cell values) and agree with the array variant."""
    exploded = multimodal.multimodal_fake_features(spark, SF_DIR)
    for f in exploded.schema.fields:
        assert not f.dataType.typeName().startswith(("array", "map", "struct"))
    got = {(r.doc_id, r.dim): r.value
           for r in exploded.filter("doc_id < 20").collect()}
    want = {(r.doc_id, i): v
            for r in multimodal.multimodal_fake_features_array(spark, SF_DIR)
                               .filter("doc_id < 20").collect()
            for i, v in enumerate(r.features)}
    assert got == want


def test_multimodal_binary_meta_is_native(spark):
    """Metadata op must stay JVM-side: no Arrow/Python eval nodes in plan."""
    plan = multimodal.multimodal_binary_meta(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEval" not in plan and "MapInPandas" not in plan and "BatchEval" not in plan


def test_bpe_token_count_matches_pure_python(spark, sf_dir):
    import duckdb

    from spacetime_crawler_spark.operators.textstats import (
        bpe_pretokenize,
        text_bpe_token_count,
    )

    rows = {
        r.doc_id: (r.ws_tokens, r.bpe_tokens)
        for r in text_bpe_token_count(spark, sf_dir).collect()
    }
    texts = dict(
        duckdb.sql(
            f"select doc_id, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    for did, text in texts.items():
        assert rows[did] == (
            len([t for t in text.split() if t]),
            len(bpe_pretokenize(text)),
        )
    # pinned micro-goldens for the pre-tokenizer shape
    assert bpe_pretokenize("I'll don't 123 abc-def!") == [
        "I", "'ll", " don", "'t", " 123", " abc", "-", "def", "!",
    ]


def test_batch_probe_recall_and_pruning(spark, tmp_path):
    """Batched index probe on 100 queries (vec_id ≡ 0 mod 5 at sf0.01):
    per-query candidates must equal what the single-query probe finds (the
    batch path is a re-plumbing of the same geometry, not a new sketch),
    mean recall vs per-query exact brute force (numpy, driver-side over the
    500×64 test corpus) must clear the single-probe floor, and the index
    scan must stay partition-pruned with a probed-pair set bounded by the
    code space, not the query count."""
    import numpy as np
    from pyspark.sql import functions as F

    from spacetime_crawler_spark.sources.tables import load_table

    index_dir = str(tmp_path / "batch_idx")
    similarity.build_ann_index(spark, SF_DIR, index_dir)
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n_queries = queries.count()
    assert n_queries >= 100

    res = similarity.probe_ann_index_batch(spark, index_dir, queries)
    # plan: PartitionFilters on the index scan (static pruning, no DPP dependence)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [(((" in plan, plan[:3000]

    got = res.collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
        assert r.vec_id != r.query_id  # exclude_self

    # exact top-k per query, driver-side numpy (500 vectors is tiny)
    all_rows = emb.collect()
    ids = np.array([r.vec_id for r in all_rows])
    M = np.array([r.embedding for r in all_rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    qmask = ids % 5 == 0
    recalls = []
    for qi in np.nonzero(qmask)[0]:
        sims = Mn @ Mn[qi]
        order = sorted(
            ((round(-s, 4), i) for s, i in zip(sims, ids) if i != ids[qi])
        )
        exact = {i for _, i in order[: similarity.TOP_K]}
        ann = set(by_q.get(int(ids[qi]), []))
        recalls.append(len(exact & ann) / similarity.TOP_K)
    mean_recall = sum(recalls) / len(recalls)
    # single-probe catch probability per neighbor at this corpus's cosine
    # profile is ~0.97 for true near neighbors but the demo corpus top-5
    # sits near c≈0.35-0.5; empirically single-probe lands ~0.55-0.7 mean
    # recall here — require a conservative floor that still catches a
    # broken join/rank (which lands near 0).
    assert mean_recall >= 0.4, mean_recall

    # batch ≡ single-query probe, query by query (same geometry, same rerank)
    for qid in list(by_q)[:5]:
        qv = list(emb.filter(F.col("vec_id") == qid).collect()[0].embedding)
        single = [
            r.vec_id
            for r in similarity.probe_ann_index(
                spark, index_dir, qv, exclude_vec_id=qid
            ).collect()
        ]
        assert by_q[qid] == single, (qid, by_q[qid], single)


def test_langid_cyrillic_confusion(spark):
    """ru vs uk vs bg — the closely-related-language case where trigram
    profiles actually fail.  Nine snippets (three per language, parallel
    content so shared East-Slavic trigrams fire on all of them) must each
    resolve to their own language with margin ≥ 2 over the runner-up, and
    the transliterated-Russian path must survive the new Cyrillic
    profiles unchanged."""
    pdf = [
        (1, "ru", "в этом году мы не могли получить ответ на вопрос"
            " который был задан"),
        (2, "ru", "правительство заявило что новые законы вступят в силу"
            " после того как будут опубликованы"),
        (3, "ru", "она читала книгу которую купила на прошлой неделе"
            " в небольшом магазине"),
        (4, "uk", "у цьому році ми не могли отримати відповідь на питання"
            " яке було задано"),
        (5, "uk", "уряд заявив що нові закони набудуть чинності після того"
            " як будуть опубліковані"),
        (6, "uk", "вона читала книгу яку купила минулого тижня"
            " в невеликому магазині"),
        (7, "bg", "тази година не можахме да получим отговор на въпроса"
            " който беше зададен"),
        (8, "bg", "правителството заяви че новите закони ще влязат в сила"
            " след като бъдат публикувани"),
        (9, "bg", "тя четеше книгата която купи миналата седмица"
            " в малък магазин"),
        (10, "ru", "kogda my prishli v etot gorod my uvideli bolshuju"
             " ploshchad kotoraja byla ukrashena starymi domami"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, _l, t in pdf], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in textstats.langid_scores(df).collect()}
    for i, expect, _t in pdf:
        r = got[i]
        assert r.pred_lang == expect, (i, expect, r)
        assert r.margin >= 2, (i, r)


def test_repetition_stats_behavior(spark, tmp_path):
    """text_repetition_stats over a crafted documents table: a one-word doc
    survives with top_bigram_frac 0 (explode_outer), a mantra doc flags
    repetitive, a varied doc doesn't, and a doc built from a repeated
    5-gram shows dup_5gram_frac ≈ 1."""
    rows = [
        (1, "solo", "en", "s0", 4),
        (2, "buy now " * 20, "en", "s0", 160),
        (3, "the quick brown fox jumps over a lazy dog near banks while"
            " seven wizards pack my box with five dozen liquor jugs and"
            " sphinx of black quartz judge vows", "en", "s1", 150),
        (4, "alpha beta gamma delta eps " * 8, "en", "s1", 216),
    ]
    from spacetime_crawler_spark.sources.tables import TESTDATA_SCHEMAS

    spark.createDataFrame(rows, TESTDATA_SCHEMAS["documents"]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in textstats.text_repetition_stats(
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == 4
    assert got[1].n_tokens == 1
    assert got[1].top_bigram_frac == 0.0 and got[1].repetitive == 0
    # "buy now buy now ..." — 'buy now' is 20 of 39 bigram slots
    assert got[2].top_bigram_frac > 0.5 and got[2].repetitive == 1
    assert got[3].repetitive == 0 and got[3].dup_word_frac == 0.0
    # repeated 5-word phrase: every 5-gram window recurs
    assert got[4].dup_5gram_frac > textstats.REPEAT_DUP_5GRAM_MAX
    assert got[4].repetitive == 1


def test_repetition_flag_partitions_sf001_corpus(spark):
    """The pinned thresholds must split the driver corpus — an all-0 or
    all-1 flag column would make the driver's hash check vacuous for the
    flag."""
    flags = [
        r.repetitive
        for r in textstats.text_repetition_stats(spark, SF_DIR).collect()
    ]
    assert 0 < sum(flags) < len(flags)
