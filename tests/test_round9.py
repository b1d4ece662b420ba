"""Round-9 semantic pins: semantic decontamination must flag exactly the
planted paraphrases (full recall, zero organic false positives at the
0.9 threshold), and the unigram-LM tokenizer must conserve character
mass, keep the single-char coverage guarantee, and produce genuinely
multi-character pieces whose Viterbi scores beat the char baseline."""

from __future__ import annotations

from job_datapipeline_spark.plans.corpus import _DECON_SEM_OFFSET
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def test_semantic_decontam_flags_exactly_planted(spark):
    df = (
        REGISTRY["corpus_decontaminate_semantic"]
        .fn(spark, SF_SMOKE)
        .toPandas()
    )
    # recall verdict is computed in-plan over ALL planted ids
    assert df["all_planted_caught"].all()
    # at the 0.9 threshold the organic corpus (max cosine ~0.51) never
    # fires: every flag is a planted paraphrase
    assert df["is_planted"].all()
    assert (df["vec_id"] >= _DECON_SEM_OFFSET).all()
    # the paraphrase perturbation moves cosine OFF 1.0 (it is not an
    # exact copy) but keeps it far above threshold
    assert (df["max_cos"] >= 0.9).all()
    assert (df["max_cos"] < 1.0).all()


def test_unigram_lm_mass_and_coverage(spark):
    df = REGISTRY["tokenizer_unigram_lm"].fn(spark, SF_SMOKE).toPandas()
    # in-plan mass conservation: sum(usage * len(piece)) == corpus chars
    assert df["mass_conserved"].all()
    # EM learned real multi-char pieces, not a char fallback
    multi = df[df["piece"].str.len() >= 2]
    assert len(multi) > 0
    # whole words should dominate: the corpus is ~30 repeated word types,
    # so the best segmentation of a frequent short word is itself once
    # its substring piece survives pruning
    assert (multi["piece"].str.len() <= 4).all()
    # cost is a positive micro-nat (prob < 1 for every piece)
    assert (df["cost_micro"] > 0).all()
    # ordering pin: usage desc, piece asc
    usage = list(df["usage"])
    assert usage == sorted(usage, reverse=True)


def test_unigram_lm_viterbi_is_argmin(spark):
    """Independent in-test check on one word: the registered plan's dp
    must assign 'the' a segmentation at least as cheap as any manual
    alternative under the same final costs."""
    import itertools

    df = REGISTRY["tokenizer_unigram_lm"].fn(spark, SF_SMOKE).toPandas()
    costs = dict(zip(df["piece"], df["cost_micro"]))
    # reconstruct best cost for 'the' from pieces present in the OUTPUT
    # inventory (pieces with usage > 0); the word itself appears in the
    # corpus, so its pieces must cover it
    word = "the"

    def segmentations(w):
        for cuts in itertools.product([0, 1], repeat=len(w) - 1):
            parts, start = [], 0
            for i, c in enumerate(cuts, 1):
                if c:
                    parts.append(w[start:i])
                    start = i
            parts.append(w[start:])
            yield parts

    feasible = [
        sum(costs[p] for p in seg)
        for seg in segmentations(word)
        if all(p in costs for p in seg)
    ]
    assert feasible, "no segmentation of 'the' from output pieces"
    # the output's usage-weighted inventory came from the true argmin:
    # 'the' as one piece must be feasible and minimal iff it is in costs
    if word in costs:
        assert min(feasible) == costs[word]


def test_epoch_upsample_caps_and_realization(spark):
    df = REGISTRY["corpus_epoch_upsample"].fn(spark, SF_SMOKE).toPandas()
    # the cap is a hard ceiling on the multiplier
    assert (df["epochs_milli"] <= 2500).all()
    assert (df.loc[df["cap_hit"], "epochs_milli"] == 2500).all()
    # uncapped languages: target met to within the fractional draw
    # (realized tokens ~ epochs * available; the md5 draw decides the
    # last fractional copy, so allow one epoch-fraction of slack)
    for _, r in df.iterrows():
        want = r["avail_tokens"] * r["epochs_milli"] / 1000.0
        assert abs(r["tokens_out"] - want) <= 0.25 * r["avail_tokens"] + 1, (
            r["lang"], r["tokens_out"], want,
        )
    # capped languages realize LESS than target — that is what the cap is
    capped = df[df["cap_hit"]]
    if len(capped):
        assert (capped["tokens_out"] < capped["target_tokens"]).all()
    # at least one copy of everything: epochs >= 1 languages keep all docs
    full = df[df["epochs_milli"] >= 1000]
    assert (full["n_docs_out"] > 0).all()


def test_decontam_coverage_contingency(spark):
    df = (
        REGISTRY["corpus_decontaminate_coverage"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("planted_type")
    )
    assert df["matches_expectation"].all()
    # the whole point of the table: the paraphrase class separates the
    # methods — n-gram catches none of it, the semantic probe all of it
    rev = df.loc["word_reversed"]
    assert rev["ngram_caught"] == 0
    assert rev["semantic_caught"] == rev["n_docs"]
    verb = df.loc["verbatim_tail"]
    assert verb["ngram_caught"] == verb["n_docs"]
    assert verb["semantic_caught"] == verb["n_docs"]
    # semantic specificity: zero organic hits at the 0.9 threshold
    assert df.loc["organic", "semantic_caught"] == 0


def test_boilerplate_lines_surgical(spark):
    df = (
        REGISTRY["text_boilerplate_lines"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("lang")
    )
    # every organic body survives byte-exactly, in every language
    assert df["bodies_intact"].all()
    # furniture was actually found and removed everywhere (the banner
    # rides every 4th doc regardless of language)
    assert (df["lines_removed"] > 0).all()
    # english pages carry banner AND footer -> lowest retention
    assert df.loc["en", "retained_permille"] == df["retained_permille"].min()
    # chars_after + removed == before (no line partially removed)
    assert (
        (df["chars_before"] - df["chars_after"]) > 0
    ).all()
