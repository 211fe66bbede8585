"""MinHash LSH pairs has two physical plans (operators/dedup.py): a
small-corpus driver regime (one Arrow collect, hashlib md5 and numpy) and
the distributed Spark plan, which ``autoBroadcastJoinThreshold=-1``
selects.  Both must return the same rows and schema on corpora full of
the inputs where Python and the JVM disagree by default: Unicode versus
Java whitespace, trim, empty and NULL texts, NULL and duplicate ids,
docs shorter than the shingle width, hot buckets and rounding ties."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from duckdb_age_spark.operators import dedup
from duckdb_age_spark.operators.iterate import collect_small
from duckdb_age_spark.operators.similarity import _round_half_up
from tests.conftest import count_jobs

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
# Java's \s (space, \t, \n, \x0b, \f, \r) and Unicode spaces it does not
# match (NBSP, em space, \x1c), which are word characters to Spark's split
SEPS = [" ", " ", " ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c", "\xa0", " ", "\x1c"]
EDGES = ["", "", " ", "  ", "\t", "\n", "\xa0", " \t"]


def _text(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(WORDS) for _ in range(n_words)]
    body = "".join(w + rng.choice(SEPS) for w in words[:-1]) + words[-1] if words else ""
    return rng.choice(EDGES) + body + rng.choice(EDGES)


def _mutate(rng: random.Random, text: str) -> str:
    """A near-duplicate: one word replaced or appended."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = rng.choice(WORDS) if rng.random() < 0.5 else words[i] + " " + rng.choice(WORDS)
    return " ".join(words)


def _corpus(seed: int) -> list[tuple[int | None, str | None]]:
    """Random docs and near-duplicate copies of them, plus the degenerate
    rows: empty and NULL texts, ids shared by two rows (one of them
    NULL-text), docs of one and two words, and four copies of one text, one
    under the NULL id, whose buckets that copy makes hot under
    ``max_bucket=3``."""
    rng = random.Random(seed)
    rows: list[tuple[int | None, str | None]] = []
    for i in range(40):
        text = _text(rng, rng.randint(3, 14))
        rows.append((i, text))
        for j in range(rng.choice([0, 0, 1, 2])):
            rows.append((1000 + 10 * i + j, _mutate(rng, text)))
    rows += [(200, ""), (201, ""), (202, None), (203, "   "), (204, "\t")]
    rows += [(210, "alpha"), (211, "alpha"), (212, "alpha beta"), (213, "\xa0alpha beta\xa0")]
    rows += [(5, _text(rng, 6)), (7, None), (220, rows[0][1]), (220, "beta gamma delta")]
    hot = "kappa lambda mu kappa lambda mu"
    rows += [(300 + k, hot) for k in range(3)] + [(None, hot)]
    rng.shuffle(rows)
    return rows


def _frame(spark, rows):
    """An Arrow-backed local relation: it carries size statistics, so the
    driver regime's plan-size check passes."""
    table = pa.table(
        {"doc_id": pa.array([r[0] for r in rows], pa.int64()), "text": [r[1] for r in rows]}
    )
    return spark.createDataFrame(table, "doc_id bigint, text string")


def _result(df):
    return df.schema, sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    ("seed", "n_hashes", "bands", "ngram"),
    [(1, 8, 4, 3), (2, 8, 4, 3), (1, 6, 3, 3), (2, 6, 3, 2), (1, 16, 4, 3), (2, 16, 4, 2)],
)
def test_driver_and_distributed_regimes_agree(
    spark, broadcast_threshold, monkeypatch, seed, n_hashes, bands, ngram
):
    # a few shingles per digest chunk: signatures span many chunks
    monkeypatch.setattr(dedup, "_DIGEST_CHUNK", 100)
    corpus = _frame(spark, _corpus(seed))
    kwargs = dict(n_hashes=n_hashes, bands=bands, ngram=ngram)
    driver = dedup.minhash_lsh_pairs(corpus, **kwargs)
    capped = dedup.minhash_lsh_pairs(corpus, max_bucket=3, **kwargs)
    assert not hasattr(driver, "_pre_checkpoint_plan"), "the driver regime did not run"
    broadcast_threshold("-1")
    dist = dedup.minhash_lsh_pairs(corpus, **kwargs)
    assert hasattr(dist, "_pre_checkpoint_plan"), "the distributed regime did not run"
    want = _result(dist)
    assert _result(driver) == want
    assert want[1], "the corpus must produce pairs"
    assert _result(capped) == _result(dedup.minhash_lsh_pairs(corpus, max_bucket=3, **kwargs))
    assert len(capped.collect()) < len(want[1]), "max_bucket=3 must drop a hot bucket's pairs"


def test_est_jaccard_rounding_matches_spark_round(spark):
    """The driver regime's est_jaccard table, k / n rounded to 4 places
    HALF_UP, equals F.round(k / n, 4) for every signature length up to 64
    (ties such as 1/32 = 0.03125, and 5/6 = 0.8333...)."""
    vals = [(k, n) for n in range(1, 65) for k in range(n + 1)]
    df = spark.createDataFrame(vals, "k int, n int")
    est = F.round(F.col("k") / F.col("n").cast("double"), 4)
    got = [r.est for r in df.select(est.alias("est")).collect()]
    assert got == [_round_half_up(k / n, 4) for k, n in vals]


def test_small_corpus_issues_at_most_two_jobs(spark, sf_dir):
    """On a parquet corpus under the budget the call runs the exact byte
    count and the Arrow collect, nothing else (the distributed plan runs
    16 jobs before the caller's action)."""
    corpus = dedup.planted_near_dup_corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    out, jobs = count_jobs(spark, "minhash-small-corpus", lambda: dedup.minhash_lsh_pairs(corpus))
    assert not hasattr(out, "_pre_checkpoint_plan")
    assert 0 < jobs <= 2, jobs


def test_budget_under_plan_estimate_runs_no_gate_job(spark, sf_dir, broadcast_threshold):
    """A byte budget below the plan's size estimate goes to the distributed
    plan with no job of its own: the call runs exactly the jobs the
    distributed plan runs with the regime off."""
    corpus = dedup.planted_near_dup_corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    broadcast_threshold("1")
    out, gated = count_jobs(spark, "minhash-over-estimate", lambda: dedup.minhash_lsh_pairs(corpus))
    assert hasattr(out, "_pre_checkpoint_plan")
    broadcast_threshold("-1")
    _, off = count_jobs(spark, "minhash-regime-off", lambda: dedup.minhash_lsh_pairs(corpus))
    assert gated == off, (gated, off)


def test_pairs_over_budget_fall_back_to_distributed(spark, broadcast_threshold):
    """40 copies of one text fit a 2000-byte budget as a corpus, but their
    4 × 780 within-bucket pairs (16 B each) do not: the distributed plan
    runs and returns the same rows."""
    corpus = _frame(spark, [(i, "lorem ipsum dolor") for i in range(40)])
    broadcast_threshold("2000")
    assert collect_small(corpus, 2000, ("doc_id",), ("text",)) is not None, "the corpus must pass the byte gate"
    out = dedup.minhash_lsh_pairs(corpus)
    assert hasattr(out, "_pre_checkpoint_plan"), "the pair bound did not send the call to Spark"
    got = _result(out)
    assert len(got[1]) == 40 * 39 // 2
    broadcast_threshold("-1")
    assert got == _result(dedup.minhash_lsh_pairs(corpus))


def test_list_built_corpus_without_size_estimate_takes_driver_regime(spark, broadcast_threshold):
    """``createDataFrame`` from a Python list has no size statistics (its
    plan estimates Long.MaxValue): the exact byte count decides, so the
    62 docs of test_operators.py::test_hot_bucket_cap_minhash run on the
    driver and return the distributed plan's rows."""
    junk = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do") for i in range(60)]
    base = (
        "quick brown fox jumps over the lazy dog while seven wizards brew "
        "strong black coffee at midnight near the old lighthouse"
    )
    corpus = spark.createDataFrame(
        junk + [(1000, base), (1001, base + " tonight")], "doc_id long, text string"
    )
    plan = corpus.select("doc_id", "text")._jdf.queryExecution().optimizedPlan()
    assert plan.stats().sizeInBytes() == (1 << 63) - 1  # Long.MaxValue: no estimate
    driver = dedup.minhash_lsh_pairs(corpus)
    capped = dedup.minhash_lsh_pairs(corpus, max_bucket=10)
    assert not hasattr(driver, "_pre_checkpoint_plan"), "the driver regime did not run"
    assert not hasattr(capped, "_pre_checkpoint_plan"), "the driver regime did not run"
    broadcast_threshold("-1")
    dist = dedup.minhash_lsh_pairs(corpus)
    assert hasattr(dist, "_pre_checkpoint_plan"), "the distributed regime did not run"
    assert _result(driver) == _result(dist)
    assert _result(capped) == _result(dedup.minhash_lsh_pairs(corpus, max_bucket=10))
    assert [tuple(r)[:2] for r in capped.collect()] == [(1000, 1001)]


def test_union_of_list_leaves_takes_driver_regime(spark, broadcast_threshold):
    """Spark sums the Long.MaxValue estimates of leaves without statistics
    into a BigInt past Long.MaxValue: the planted corpus over a 40-row list
    unions two such leaves.  The gate reads that as no estimate too, so
    its 44 docs run on the driver in at most two jobs and return the
    distributed plan's rows."""
    rng = random.Random(3)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 12)))) for i in range(40)],
        "doc_id long, text string",
    )
    corpus = dedup.planted_near_dup_corpus(docs)
    plan = corpus.select("doc_id", "text")._jdf.queryExecution().optimizedPlan()
    assert plan.stats().sizeInBytes() > (1 << 63) - 1
    driver, jobs = count_jobs(spark, "minhash-list-union", lambda: dedup.minhash_lsh_pairs(corpus))
    assert not hasattr(driver, "_pre_checkpoint_plan"), "the driver regime did not run"
    assert 0 < jobs <= 2, jobs
    broadcast_threshold("-1")
    dist = dedup.minhash_lsh_pairs(corpus)
    assert hasattr(dist, "_pre_checkpoint_plan"), "the distributed regime did not run"
    want = _result(dist)
    assert want[1], "the corpus must produce pairs"
    assert _result(driver) == want
