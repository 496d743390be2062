"""Golden triple-set P/R for the flagship transcripts converter.

Mirrors the reference's converter-integration test role
(ConvertWorkerTest.java:11-15) but against an independent pure-Python
oracle instead of a live service; target P/R ≥ 0.95 (BASELINE.json),
exact at fixture scale.
"""

from __future__ import annotations

from linkedspending_spark.operators.convert_transcripts import convert_transcripts
from .convert_transcripts_golden import golden_triples
from linkedspending_spark.sources.dictionaries import country_pairs, currency_pairs
from linkedspending_spark.transcripts import synth_transcripts, synth_transcripts_df


def _pr(actual: set, expected: set) -> tuple[float, float]:
    tp = len(actual & expected)
    precision = tp / len(actual) if actual else 0.0
    recall = tp / len(expected) if expected else 0.0
    return precision, recall


def test_triples_match_golden(spark):
    pdf = synth_transcripts(n_convs=12, base_turns=6, seed=42)
    df = synth_transcripts_df(spark, n_convs=12, base_turns=6, seed=42)
    out = convert_transcripts(spark, df)
    actual = {(r["s"], r["p"], r["o"]) for r in out.collect()}
    expected = golden_triples(pdf, dict(currency_pairs()), dict(country_pairs()))
    precision, recall = _pr(actual, expected)
    only_a = sorted(actual - expected)[:5]
    only_e = sorted(expected - actual)[:5]
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.4f} R={recall:.4f}\nonly_actual={only_a}\nonly_expected={only_e}"
    )
    # at fixture scale the match should be exact
    assert precision == 1.0 and recall == 1.0, (precision, recall, only_a, only_e)


def test_idempotent_set_semantics(spark):
    """Re-running the conversion yields the identical triple set (U3)."""
    df = synth_transcripts_df(spark, n_convs=5, base_turns=4, seed=7)
    a = convert_transcripts(spark, df)
    b = convert_transcripts(spark, df)
    sa = {(r["s"], r["p"], r["o"]) for r in a.collect()}
    sb = {(r["s"], r["p"], r["o"]) for r in b.collect()}
    assert sa == sb and len(sa) == a.count() == b.count()


def test_skewed_mega_conversation(spark):
    """Skew fixture: one hot conv_id with 100x turns still converts exactly."""
    pdf = synth_transcripts(n_convs=4, base_turns=5, mega_conv_turns=500, seed=9)
    df = spark.createDataFrame(pdf)
    out = convert_transcripts(spark, df)
    actual = {(r["s"], r["p"], r["o"]) for r in out.collect()}
    expected = golden_triples(pdf, dict(currency_pairs()), dict(country_pairs()))
    assert actual == expected


def test_order_invariance_per_turn_text_equality(spark):
    """North-rule invariant: per-turn text equality under stable turn
    ordering — a row-order-permuted, re-partitioned input yields the
    byte-identical triple set, because observation identity comes from
    (conv_id, turn_idx), never from arrival order."""
    from pyspark.sql import functions as F

    pdf = synth_transcripts(n_convs=8, base_turns=5, seed=17)
    df = spark.createDataFrame(pdf)
    shuffled = (
        df.orderBy(F.xxhash64("text", "turn_idx"))  # adversarial permutation
        .repartition(13)  # and a different physical layout
    )
    base = {(r["s"], r["p"], r["o"]) for r in convert_transcripts(spark, df).collect()}
    perm = {
        (r["s"], r["p"], r["o"])
        for r in convert_transcripts(spark, shuffled).collect()
    }
    assert base == perm
    # the text attribute per observation URI is exactly the input text
    prop_texts = {
        (r["s"], r["o"])
        for r in convert_transcripts(spark, shuffled).collect()
        if r["p"].endswith("-text")
    }
    from linkedspending_spark.uris import observation_uri_str

    want = {
        (observation_uri_str(row.conv_id, str(row.turn_idx)), row.text)
        for row in pdf.itertuples()
        if row.text is not None
    }
    assert prop_texts == want


def test_dedup_auto_is_equivalent_to_forced_dedup(spark, sf_dir):
    """dedup="auto" skips the dropDuplicates shuffle on the native path
    because the output is provably set-valued — verify the proof holds:
    forced statement-set dedup changes nothing, and no (s,p,o) appears
    twice, on both synthetic and events-derived inputs."""
    from pyspark.sql import functions as F

    from linkedspending_spark.transcripts import transcripts_from_events

    inputs = [
        synth_transcripts_df(spark, n_convs=10, base_turns=6, seed=3),
        synth_transcripts_df(spark, n_convs=5, base_turns=4, seed=11,
                             mega_conv_turns=200),
        transcripts_from_events(spark, sf_dir),
    ]
    for t in inputs:
        auto = convert_transcripts(spark, t)  # auto → no dedup shuffle
        forced = convert_transcripts(spark, t, dedup=True)
        n_auto, n_forced = auto.count(), forced.count()
        assert n_auto == n_forced
        dup = (
            auto.groupBy("s", "p", "o").count().where(F.col("count") > 1).count()
        )
        assert dup == 0
    # the pandas mention mode keeps dedup under "auto" (fuzzy detectors
    # can map distinct surface forms to one URI)
    t = synth_transcripts_df(spark, n_convs=4, base_turns=4, seed=5)
    pd_auto = convert_transcripts(spark, t, mention_mode="pandas")
    assert (
        pd_auto.groupBy("s", "p", "o").count().where(F.col("count") > 1).count()
        == 0
    )
