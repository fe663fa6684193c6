"""The shared per-key streaming operator: parameters are validated when the
query is built, and every distinct state-store layout resumes from a
checkpoint across query restarts."""

import pandas as pd
import pytest

from bloomfilter_spark import streaming as st


@pytest.mark.parametrize("build", [
    lambda df: st.stateful_grouped_hll(df, "value", "value", p=3),
    lambda df: st.stateful_grouped_mg(df, "value", "value", k=0),
    lambda df: st.stateful_grouped_heavy_hitters(df, "value", "value",
                                                 eps=-1.0),
], ids=["hll_p3", "mg_k0", "heavy_hitters_eps_neg"])
def test_invalid_parameters_raise_at_call_time(spark, build):
    """Bad sketch parameters fail when the DataFrame is built on the
    driver, not later inside a running query's Python worker."""
    with pytest.raises(ValueError):
        build(spark.readStream.format("rate").load())


# one case per distinct state-store layout
LAYOUTS = {
    "hll_registers": lambda s: st.stateful_grouped_hll(s, "k", "v", p=10),
    "cms_blob": lambda s: st.stateful_grouped_cms(s, "k", "v", width=512,
                                                  depth=4),
    "quantile_blob_n": lambda s: st.stateful_grouped_quantile(
        s, "k", "x", quantiles=(0.1, 0.5, 0.9)),
    "mg_blob_names": lambda s: st.stateful_grouped_mg(s, "k", "v", k=4,
                                                      emit_k=3),
    "heavy_hitters_candidates": lambda s: st.stateful_grouped_heavy_hitters(
        s, "k", "v", k=3, n_candidates=6, eps=1e-2, delta=1e-2),
    "decayed_table_t_ref": lambda s: st.stateful_decayed_heavy_hitters(
        s, "k", "v", "t", half_life_s=60.0, k=3, n_candidates=6),
}


def _rows(part: int):
    # keys 'a' and 'b' are in both files, 'c' only in the second
    keys = ["a", "b"] + (["c"] if part else [])
    return [(key, f"item{(i * (part + 2)) % 11}", float(i % 37) + part,
             100.0 * part + i)
            for key in keys for i in range(150 + 40 * part)]


def _final(frames) -> pd.DataFrame:
    """Each key's rows from the last micro-batch that updated it."""
    last: dict = {}
    for frame in frames:
        for key, grp in frame.groupby("k"):
            last[key] = grp
    out = pd.concat(last.values(), ignore_index=True)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_state_resumes_across_restart(spark, tmp_path, layout):
    """Two availableNow runs on one checkpoint, with a parquet file added in
    between, end in the same emission as one run over both files: the
    second run loaded every key's saved state instead of starting over."""
    schema = "k string, v string, x double, t double"
    files = [spark.createDataFrame(_rows(i), schema) for i in range(2)]

    def run(src: str, ckpt: str) -> list:
        frames: list = []
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (LAYOUTS[layout](stream).writeStream.outputMode("update")
             .option("checkpointLocation", ckpt)
             .foreachBatch(lambda b, _: frames.append(b.toPandas()))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        assert q.exception() is None
        return frames

    restarted, once = str(tmp_path / "restarted"), str(tmp_path / "once")
    files[0].coalesce(1).write.parquet(restarted)
    first = run(restarted, str(tmp_path / "ckpt_restarted"))
    files[1].coalesce(1).write.mode("append").parquet(restarted)
    second = run(restarted, str(tmp_path / "ckpt_restarted"))
    assert first and second

    for f in files:
        f.coalesce(1).write.mode("append").parquet(once)
    single = run(once, str(tmp_path / "ckpt_once"))

    pd.testing.assert_frame_equal(_final(first + second), _final(single))
