"""Property coverage for the wave-3 stats ops: random series must match
the sequential references exactly (the ops are exact-integer by design, so
the comparison is equality, not tolerance). Each hypothesis example packs
many conversations into ONE Spark job to keep example cost sane."""

import datetime
import statistics

from hypothesis import given, settings
from hypothesis import strategies as st

from tmframe_spark.ops.stats import ewma, rolling_median, seasonal_naive_backtest

T0 = datetime.datetime(2024, 5, 1)

series_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    min_size=1,
    max_size=6,
)


def _df(spark, series):
    rows = [
        (f"c{j}", T0 + datetime.timedelta(hours=i), int(v))
        for j, vals in enumerate(series)
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, bucket timestamp, token_volume long"
    )


@settings(max_examples=8, deadline=None)
@given(series=series_strategy, k=st.integers(min_value=1, max_value=8))
def test_ewma_property(spark, series, k):
    got = {}
    for r in ewma(_df(spark, series), "token_volume", k=k).collect():
        got.setdefault(r["conv_id"], {})[r["bucket"]] = r["ewma_q"]
    for j, vals in enumerate(series):
        s = None
        for i, v in enumerate(vals):
            vq = v << k
            s = vq if s is None else s + ((vq - s) >> k)
            assert got[f"c{j}"][T0 + datetime.timedelta(hours=i)] == s


@settings(max_examples=8, deadline=None)
@given(series=series_strategy, season=st.integers(min_value=1, max_value=10))
def test_mase_property(spark, series, season):
    out = {
        r["conv_id"]: r
        for r in seasonal_naive_backtest(
            _df(spark, series), "token_volume", season=season
        ).collect()
    }
    for j, vals in enumerate(series):
        errs = [abs(vals[i] - vals[i - season]) for i in range(season, len(vals))]
        naive = [abs(vals[i] - vals[i - 1]) for i in range(1, len(vals))]
        r = out[f"c{j}"]
        assert (r["n_forecasts"], r["err_abs_sum"]) == (len(errs), sum(errs))
        assert (r["n_naive"], r["naive_abs_sum"]) == (len(naive), sum(naive))
        if errs and sum(naive) > 0:
            assert r["mase"] == float(sum(errs) * len(naive)) / float(
                len(errs) * sum(naive)
            )
        else:
            assert r["mase"] is None


@settings(max_examples=8, deadline=None)
@given(series=series_strategy, half=st.integers(min_value=1, max_value=5))
def test_rolling_median_property(spark, series, half):
    window = 2 * half + 1
    got = {}
    for r in rolling_median(_df(spark, series), "token_volume", window).collect():
        got.setdefault(r["conv_id"], {})[r["bucket"]] = (r["med"], r["abs_dev"])
    for j, vals in enumerate(series):
        expected = {
            T0 + datetime.timedelta(hours=i): (
                statistics.median(vals[i - half : i + half + 1]),
                abs(vals[i] - statistics.median(vals[i - half : i + half + 1])),
            )
            for i in range(half, len(vals) - half)
        }
        assert got.get(f"c{j}", {}) == expected


def _ewma_layouts(spark, vals):
    # the same series as ONE dominant group (scalar route) and as 64 small
    # groups in one batch (transposed vector route)
    def df(n_convs):
        rows = [
            (f"c{j}", T0 + datetime.timedelta(hours=i), v)
            for j in range(n_convs)
            for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(
            rows, "conv_id string, bucket timestamp, token_volume long"
        )

    return {"dominant": df(1), "many": df(64)}


@settings(max_examples=6, deadline=None)
@given(
    k=st.integers(min_value=1, max_value=30),
    signs=st.lists(st.sampled_from([1, -1, 0]), min_size=2, max_size=8),
)
def test_ewma_int64_bound_property(spark, k, signs):
    import pytest

    edge = 1 << (63 - k)
    vals = [s * (edge - 1) for s in signs]
    want, s = [], None
    for v in vals:
        vq = v << k
        s = vq if s is None else s + ((vq - s) >> k)
        want.append(s)
    for name, df in _ewma_layouts(spark, vals).items():
        got = {}
        for r in ewma(df, "token_volume", k=k).collect():
            got.setdefault(r["conv_id"], {})[r["bucket"]] = r["ewma_q"]
        hours = [T0 + datetime.timedelta(hours=i) for i in range(len(vals))]
        for series in got.values():
            assert [series[h] for h in hours] == want, name
    # one value AT the bound: both layouts refuse instead of wrapping
    out = [vals[0], -edge if signs[-1] < 0 else edge] + vals[1:]
    for df in _ewma_layouts(spark, out).values():
        with pytest.raises(Exception, match=rf"< 2\^{63 - k} for k={k}"):
            ewma(df, "token_volume", k=k).collect()
