"""bh_fdr (Benjamini–Hochberg step-up) and incremental_minhash_dedup."""
from __future__ import annotations

import pyspark.sql.functions as F


def _bh(spark, rows, q_num=1, q_den=10):
    from timeseriescorrelation_spark.operators.activity import bh_fdr

    df = spark.createDataFrame(rows, "fam string, tid long, p_num long,"
                                     " p_den long")
    out = bh_fdr(df, ["fam"], q_num, q_den,
                 order_cols=["tid"])
    return {r["tid"]: r.asDict() for r in out.collect()}


def test_bh_textbook(spark):
    # classic step-up: m=10, q=0.25. p (as /1000): 10, 20, 30, 40, 200,
    # 300, 400, 500, 600, 900. BH line i*q/m = 25i/1000: ranks 1..4 pass
    # (10<=25, 20<=50, 30<=75, 40<=100), rank 5 fails (200>125) and no
    # later rank recovers -> exactly the first four rejected.
    ps = [10, 20, 30, 40, 200, 300, 400, 500, 600, 900]
    rows = [("a", i, p, 1000) for i, p in enumerate(ps)]
    got = _bh(spark, rows, q_num=1, q_den=4)
    rejected = sorted(t for t, r in got.items() if r["rejected"])
    assert rejected == [0, 1, 2, 3]
    assert all(r["m"] == 10 for r in got.values())


def test_bh_step_up_rescues_earlier_failures(spark):
    # step-up, not step-down: p = (40, 40, 40)/1000, m=3, q=0.1.
    # Rank 1 fails (40 > 33.3) but rank 3 passes (40 <= 100), so ALL
    # THREE are rejected — the largest passing rank wins.
    rows = [("a", i, 40, 1000) for i in range(3)]
    got = _bh(spark, rows, q_num=1, q_den=10)
    assert all(r["rejected"] for r in got.values())


def test_bh_ties_reject_together_and_families_isolate(spark):
    # family "a": two tied small p's pass at the tie group's top rank;
    # family "b": same p-values but m is larger via junk tests, so the
    # line is lower per rank and nothing passes — families must not
    # leak into each other's m.
    rows = [("a", 0, 1, 100), ("a", 1, 1, 100), ("a", 2, 90, 100)]
    rows += [("b", i, 1, 100) for i in (10, 11)]
    rows += [("b", i, 99, 100) for i in range(12, 40)]
    got_a = {t: r for t, r in _bh(spark, rows, 1, 50).items() if t < 10}
    got_b = {t: r for t, r in _bh(spark, rows, 1, 50).items() if t >= 10}
    assert got_a[0]["rejected"] and got_a[1]["rejected"]
    assert not got_a[2]["rejected"]
    # family b: m=30, q=0.02 -> rank-2 line = 2*0.02/30 = 0.00133 < 0.01
    assert not any(r["rejected"] for r in got_b.values())


def test_bh_nothing_passes(spark):
    rows = [("a", i, 900 + i, 1000) for i in range(5)]
    got = _bh(spark, rows, q_num=1, q_den=20)
    assert not any(r["rejected"] for r in got.values())


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight")


def test_incremental_dedup_flags_only_batch_vs_corpus(spark):
    from timeseriescorrelation_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    # corpus: two exact copies of BASE (a corpus-internal dup pair that
    # must NOT appear in the output) + one unrelated doc
    corpus = _docs(spark, [
        (1, BASE),
        (2, BASE),
        (3, "completely different words about spark partitions and "
            "shuffle behavior at massive scale today"),
    ])
    # batch: one near-copy of BASE, one clean doc
    batch = _docs(spark, [
        (10, BASE + " extra"),
        (11, "totally novel content nothing shared with anything else "
             "whatsoever in this corpus of text"),
    ])
    out = {r["doc_id"]: r.asDict()
           for r in incremental_minhash_dedup(batch, corpus).collect()}
    assert set(out) == {10, 11}
    assert out[10]["n_dup_matches"] == 2
    assert out[10]["first_match_id"] == 1
    assert out[11]["n_dup_matches"] == 0
    assert out[11]["first_match_id"] is None


def test_incremental_dedup_xxhash_matches_vocab_decisions(spark):
    from timeseriescorrelation_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    corpus = _docs(spark, [(1, BASE), (3, "unrelated filler text with "
                                          "many distinct tokens in it "
                                          "for padding out the doc")])
    batch = _docs(spark, [(10, BASE + " tail"), (11, "fresh novel "
                          "unseen sentence completely apart from all "
                          "others here")])
    a = {r["doc_id"]: r["n_dup_matches"]
         for r in incremental_minhash_dedup(
             batch, corpus, mode="vocab").collect()}
    b = {r["doc_id"]: r["n_dup_matches"]
         for r in incremental_minhash_dedup(
             batch, corpus, mode="xxhash64").collect()}
    # id spaces differ but the verified DECISIONS must agree (exact
    # Jaccard is id-space-invariant; both id modes are injective here)
    assert a == b


def test_dq_sequence_invariants(spark):
    from datetime import datetime

    from timeseriescorrelation_spark.operators.dq import dq_sequence

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # conv "a": clean alternation, strictly increasing ts and idx
        ("a", t(1), 1, "user"), ("a", t(2), 2, "asst"),
        ("a", t(3), 3, "user"),
        # conv "b": one same-type adjacency (asst, asst), one time tie
        # (same second 5-6 boundary), one idx inversion (ts up, idx
        # down)
        ("b", t(1), 1, "user"), ("b", t(2), 2, "asst"),
        ("b", t(3), 3, "asst"),              # same-adjacent
        ("b", t(3), 4, "user"),              # time tie with idx 3
        ("b", t(9), 2, "asst"),              # ts up, idx 4 -> 2: inversion
        # conv "c": single turn — no adjacent pairs at all
        ("c", t(1), 1, "user"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, turn_idx int, metric string"
    )
    out = {r["conv_id"]: r.asDict() for r in dq_sequence(df).collect()}
    assert out["a"]["is_clean"] and out["a"]["n_turns"] == 3
    b = out["b"]
    assert b["n_same_adjacent"] == 1
    assert b["n_time_ties"] == 1
    assert b["n_idx_inversions"] == 1
    assert not b["is_clean"]
    c = out["c"]
    assert c["n_turns"] == 1 and c["is_clean"]
    assert (c["n_same_adjacent"], c["n_time_ties"],
            c["n_idx_inversions"]) == (0, 0, 0)


def test_stream_dq_sequence_batch_equal_across_split(spark, tmp_path):
    import datetime as dt

    from timeseriescorrelation_spark.operators.dq import dq_sequence
    from timeseriescorrelation_spark.streaming.dq_stream import (
        stream_dq_sequence,
    )

    T0 = dt.datetime(2024, 1, 1)
    m = lambda mm: T0 + dt.timedelta(minutes=mm)  # noqa: E731
    schema = "conv_id string, ts timestamp, turn_idx int, metric string"
    rows = [
        # "a": violations on BOTH sides of the split and ONE ACROSS it
        # (asst@25 | asst@45: the carried last_tp makes it countable)
        ("a", m(10), 1, "user"), ("a", m(10), 2, "asst"),   # time tie
        ("a", m(25), 3, "asst"),                            # same-adj
        ("a", m(45), 4, "asst"),                            # same-adj ACROSS
        ("a", m(50), 2, "user"),                            # idx inversion
        # "b": clean, entirely pre-split
        ("b", m(5), 1, "user"), ("b", m(6), 2, "asst"),
        # "c": clean, entirely post-split
        ("c", m(60), 1, "user"), ("c", m(61), 2, "asst"),
    ]
    df = spark.createDataFrame(rows, schema)
    split = m(40)
    src = tmp_path / "src"
    df.where(F.col("ts") < split).coalesce(1).write.parquet(
        str(src / "chunk1")
    )
    df.where(F.col("ts") >= split).coalesce(1).write.parquet(
        str(src / "chunk2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/chunk*")
        .withWatermark("ts", "10 minutes")
    )
    q = (
        stream_dq_sequence(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dq_seq_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from dq_seq_test").collect()
    # update mode re-emits per batch; counters are monotone in n_turns,
    # so each conversation's final verdict is its max-n_turns row
    last = {}
    for r in emitted:
        if (r["conv_id"] not in last
                or r["n_turns"] > last[r["conv_id"]]["n_turns"]):
            last[r["conv_id"]] = r.asDict()
    want = {r["conv_id"]: r.asDict() for r in dq_sequence(df).collect()}
    assert last == want
    a = last["a"]
    assert (a["n_same_adjacent"], a["n_time_ties"],
            a["n_idx_inversions"]) == (2, 1, 1)


def test_markov_calibration_hand_case(spark):
    import datetime as dt

    from timeseriescorrelation_spark.operators.analytics import (
        markov_calibration,
    )

    D = lambda d, h=0: dt.datetime(2024, 1, 1 + d, h)  # noqa: E731
    schema = ("conv_id string, metric string, ts timestamp,"
              " turn_idx int, value double")
    # span days 0..4 -> split at day 0 + (4*3)//5 = day 2
    # train conv "t" (days 0-1): A B A B A B A C
    #   transitions: A->B x3, A->C x1 (tot_A=4), B->A x3 (tot_B=3)
    #   classes = {A, B, C}
    #   p(B|A)=0.75 (bin 7), p(C|A)=0.25 (bin 2), p(A|A)=0 (bin 0)
    #   p(A|B)=1.0 (bin 9), p(B|B)=p(C|B)=0 (bin 0)
    seq = ["A", "B", "A", "B", "A", "B", "A", "C"]
    rows = [("t", m, D(0, h), h, 1.0) for h, m in enumerate(seq)]
    # eval convs (days 3-4): e1 has A->B, e2 has A->C
    rows += [("e1", "A", D(3), 0, 1.0), ("e1", "B", D(3, 1), 1, 1.0)]
    rows += [("e2", "A", D(4), 0, 1.0), ("e2", "C", D(4, 1), 1, 1.0)]
    df = spark.createDataFrame(rows, schema)
    got = {r["bin"]: r.asDict()
           for r in markov_calibration(df).collect()}
    # each eval transition (prev=A) scores all 3 classes:
    #   bin 0: the two p(A|A)=0 cells, never realized
    #   bin 7: p(B|A)=0.75 twice, realized once
    #   bin 2: p(C|A)=0.25 twice, realized once
    assert set(got) == {0, 2, 7}
    assert (got[0]["n_pairs"], got[0]["n_pos"]) == (2, 0)
    assert got[7]["n_pairs"] == 2 and got[7]["n_pos"] == 1
    assert got[7]["mean_pred"] == 0.75 and got[7]["frac_obs"] == 0.5
    assert got[2]["mean_pred"] == 0.25 and got[2]["frac_obs"] == 0.5


def test_clustering_coefficients_hand_graph(spark):
    from timeseriescorrelation_spark.operators.graphrank import (
        clustering_coefficients,
    )

    # triangle {1,2,3} plus pendant 4 hanging off 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    got = {r["node"]: r.asDict()
           for r in clustering_coefficients(edges).collect()}
    assert got[1]["n_triangles"] == 1 and got[1]["coeff"] == 1.0
    assert got[2]["coeff"] == 1.0
    assert got[3]["deg"] == 3 and got[3]["n_triangles"] == 1
    assert got[3]["coeff"] == 0.333333
    assert got[4]["deg"] == 1 and got[4]["n_triangles"] == 0
    assert got[4]["coeff"] is None


def test_mrr_int8_perfect_when_order_preserved(spark):
    from timeseriescorrelation_spark.operators.similarity import (
        mrr_int8_at_k,
    )

    # losslessly-quantizable vectors -> identical exact/int8 rankings,
    # so every query's true top-1 sits at int8 position 1: rr == 1.0
    rows = [(i, [127.0, float(5 * i)]) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    got = mrr_int8_at_k(emb, n_queries=3).collect()
    assert len(got) == 3
    for r in got:
        assert r.int8_pos == 1 and r.rr_u == 2520 and r.rr == 1.0


def test_croston_hand_case(spark):
    import datetime as dt

    from timeseriescorrelation_spark.operators.analytics import croston

    H = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    schema = ("conv_id string, metric string, ts timestamp,"
              " turn_idx int, value double")
    # metric "m": demand 2 at hour 0, 5 at hour 3 (gap 3), 1 at hour 4
    rows = []
    for i in range(2):
        rows.append(("c", "m", H(0), i, 1.0))
    for i in range(5):
        rows.append(("c", "m", H(3), 10 + i, 1.0))
    rows.append(("c", "m", H(4), 20, 1.0))
    df = spark.createDataFrame(rows, schema)
    got = sorted(croston(df).collect(), key=lambda r: r["hour_ts"])
    assert [(r["demand"], r["gap"]) for r in got] == [(2, 1), (5, 3),
                                                      (1, 1)]
    # z: 2e6 -> (7*2e6+3*5e6)//10 = 2.9e6 -> (7*2.9e6+3*1e6)//10 = 2.33e6
    assert [r["z_u"] for r in got] == [2_000_000, 2_900_000, 2_330_000]
    # p: 1e6 -> (7*1e6+3*3e6)//10 = 1.6e6 -> (7*1.6e6+3*1e6)//10 = 1.42e6
    assert [r["p_u"] for r in got] == [1_000_000, 1_600_000, 1_420_000]
    assert [r["forecast_u"] for r in got] == [2_000_000, 1_812_500,
                                              1_640_845]
    assert got[1]["forecast"] == 1.8125


def test_rate_decomposition_identity(spark):
    import datetime as dt

    from timeseriescorrelation_spark.operators.abtest import (
        rate_decomposition,
    )

    D = lambda d, h=0: dt.datetime(2024, 1, 1 + d, h)  # noqa: E731
    rows = []
    eid = 0
    # 4 days -> split at day 2; vary volume and error share per user
    # cohort and period so both effects are nonzero
    for day in range(4):
        for uid in range(40):
            n = 3 if (day < 2) == (uid % 2 == 0) else 1
            for i in range(n):
                et = "error" if (uid + day + i) % 3 == 0 else "view"
                rows.append((eid, D(day, i % 24), uid, et, 1.0, "{}"))
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string"
    )
    out = rate_decomposition(df).collect()
    n_a = sum(r["n_a"] for r in out)
    n_b = sum(r["n_b"] for r in out)
    e_a = sum(r["err_a"] for r in out)
    e_b = sum(r["err_b"] for r in out)
    headline = e_b / n_b - e_a / n_a
    total = sum((r["mix_effect"] or 0) + (r["rate_effect"] or 0)
                for r in out)
    # effects are 6dp-rounded, one segment contributes <= 1e-6 error
    assert abs(total - headline) <= 2e-6 * len(out)
    assert any((r["mix_effect"] or 0) != 0 for r in out)
    assert any((r["rate_effect"] or 0) != 0 for r in out)


def test_prune_sweep_monotone_and_sound(spark):
    import __spark_entry__ as em

    rows = {r["theta"]: r.asDict()
            for r in em.queries()["prune_sweep"](
                spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {0.5, 0.7, 0.9}
    # tighter theta -> smaller epsilon ball -> never MORE candidates
    assert (rows[0.5]["n_candidates"] >= rows[0.7]["n_candidates"]
            >= rows[0.9]["n_candidates"])
    assert (rows[0.5]["prune_ratio"] <= rows[0.7]["prune_ratio"]
            <= rows[0.9]["prune_ratio"])
    for r in rows.values():
        assert r["n_confirmed"] <= r["n_candidates"] <= r["n_pairs_total"]


def test_pq_index_persist_and_probe(spark, tmp_path):
    from timeseriescorrelation_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_adc,
    )
    from timeseriescorrelation_spark.sources.ann_index import (
        build_pq_index,
        load_pq_index,
        pq_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    path = str(tmp_path / "pqidx")
    build_pq_index(emb, path, m=16, ksub=32, n_iter=2)
    cb, codes = load_pq_index(spark, path)
    assert cb.count() > 0 and codes.count() == emb.count()
    got = sorted(
        map(tuple, pq_index_topk(emb, q, path, k=5, m=16, ksub=32,
                                 refine=50).collect())
    )
    # probing the persisted index must equal the in-session pipeline
    cb2 = pq_codebooks(emb, m=16, ksub=32, n_iter=2)
    codes2 = pq_encode(emb, cb2, m=16)
    want = sorted(
        map(tuple, pq_topk_adc(emb, q, k=5, m=16, ksub=32,
                               codebooks=cb2, codes=codes2,
                               refine=50).collect())
    )
    assert got == want and len(got) == 15
