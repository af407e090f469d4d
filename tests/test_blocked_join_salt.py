"""blocked_similarity_join salting (ADVICE r6, VERDICT r7 #5): the salt
comes from the block-width probe against SALT_TARGET_BLOCK_PAIRS,
output is identical for any salt, and the right side is the replicated
one. Tests pick the salt by patching that target and read the chosen
salt through a spy on the probe."""

from clearcare_data_pipeline_spark.operators import joins
from clearcare_data_pipeline_spark.operators.joins import blocked_similarity_join


def _frame(spark):
    # one hot block ("B") with 6 members + a small block ("A")
    rows = [
        (1, "alpha widget", "A"),
        (2, "alpha widgot", "A"),
        (10, "beta gear xx", "B"),
        (11, "beta gear xy", "B"),
        (12, "beta gear yy", "B"),
        (13, "beta gearzzz", "B"),
        (14, "beta gear x", "B"),
        (15, "gamma rodrod", "B"),
    ]
    return spark.createDataFrame(rows, "id long, txt string, blk string")


_REAL_SALT_COUNT = joins._salt_count


def _join(monkeypatch, target, df, **kw):
    """Run the join with SALT_TARGET_BLOCK_PAIRS patched to ``target``;
    returns (output, chosen salt)."""
    monkeypatch.setattr(joins, "SALT_TARGET_BLOCK_PAIRS", target)
    salts = []
    monkeypatch.setattr(
        joins, "_salt_count", lambda *a: salts.append(_REAL_SALT_COUNT(*a)) or salts[-1]
    )
    out = blocked_similarity_join(df, df, ["blk"], "txt", **kw)
    (salt,) = salts
    return out, salt


def test_salted_output_identical(spark, monkeypatch):
    df = _frame(spark)
    # hot block: 6x6 = 36 pairs -> target 10_000 gives s=1, 10 gives s=4
    base, s1 = _join(monkeypatch, 10_000, df, min_sim=0.3)
    salted, s4 = _join(monkeypatch, 10, df, min_sim=0.3)
    assert (s1, s4) == (1, 4)
    key = lambda r: (r["left_id"], r["right_id"], r["similarity"])
    a = sorted(map(key, base.collect()))
    b = sorted(map(key, salted.collect()))
    assert a == b and len(a) > 0


def test_salt_larger_than_block(spark, monkeypatch):
    df = _frame(spark)
    base, _ = _join(monkeypatch, 10_000, df, min_sim=0.0)
    salted, s = _join(monkeypatch, 1, df, min_sim=0.0)
    assert s > 6  # more sub-buckets than the hot block has members
    assert base.count() == salted.count()


def test_auto_salt_probes_hot_block(spark, monkeypatch):
    """VERDICT r7 #5: the split comes from the block-width probe — a
    hot block over the target splits, a uniform input stays at 1 —
    with identical output either way."""
    hot = [(i, "blk0", f"txt{i % 9}") for i in range(60)]
    cold = [(1000 + i, f"b{i}", f"txt{i}") for i in range(10)]
    df = spark.createDataFrame(hot + cold, ["id", "blk", "txt"])

    # hot block: 60x60 = 3600 pairs / 500 target -> ceil = 8
    out, s = _join(monkeypatch, 500, df, min_sim=0.0)
    assert s == 8
    base, s_base = _join(monkeypatch, 10_000, df, min_sim=0.0)
    assert s_base == 1
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))


def test_auto_salt_caps_and_handles_empty(spark, monkeypatch):
    rows = [(i, "blk0", "t") for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "blk", "txt"])
    out, s = _join(monkeypatch, 1, df)
    out.count()
    assert s == joins.SALT_MAX

    empty = df.where("id < 0")
    out, s = _join(monkeypatch, 1, empty)
    assert out.count() == 0 and s == 1
