"""token_jaccard_pairs: the two physical plans (small-vocab bitmask vs
general PPJoin) must produce identical results — they are plan choices,
not semantics choices."""

from fuzzy_matching_spark.operators import textops


def _collect(df):
    return {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }


def test_bitmask_and_ppjoin_plans_agree(spark, monkeypatch):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for threshold in (0.5, 0.8):
        fast = textops.token_jaccard_pairs(docs, threshold=threshold)
        with monkeypatch.context() as m:
            m.setattr(textops, "BITMASK_VOCAB_LIMIT", 0)
            general = textops.token_jaccard_pairs(docs, threshold=threshold)
        assert _collect(fast) == _collect(general)


def test_banded_plan_emits_each_pair_exactly_once(spark, monkeypatch):
    # crafted small-vocab corpus where pairs agree on MULTIPLE bands and
    # several docs share identical token sets — the two historic sources of
    # duplicate emissions.  t=0.8 over a <=62-token vocabulary selects the
    # banded distinct-mask plan (bands >= 2 bits).
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),      # identical set to 1
        (3, "a b c d e f g h i k"),      # 1 sub, multi-band agreement
        (4, "a b c d e f g h i"),        # subset, sz ratio 0.9
        (5, "x y z w v u t s r q"),      # disjoint set
        (6, "x y z w v u t s r q"),      # identical to 5
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = textops.token_jaccard_pairs(docs, threshold=0.8).collect()
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys)), "duplicate pair emissions"
    as_set = {(r["id_a"], r["id_b"], r["jaccard"]) for r in got}
    monkeypatch.setattr(textops, "BITMASK_VOCAB_LIMIT", 0)
    general = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in textops.token_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert as_set == general
    assert (1, 2, 1.0) in as_set and (5, 6, 1.0) in as_set


def test_handles_empty_and_single_token_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, ""), (4, ""), (5, "a")],
        schema="doc_id long, text string",
    )
    got = _collect(textops.token_jaccard_pairs(docs, threshold=0.99))
    # identical token sets pair up; ""-token docs pair with each other
    assert (1, 2, 1.0) in got
    assert (3, 4, 1.0) in got
    assert not any((a, b) == (1, 5) or (a, b) == (5, 1) for a, b, _ in got)
