"""The scaling mega-batch (crawl/scaling.py) runs one crawl iteration on the
loop's own kernels over materialized inputs: its counts are pinned at one n,
and its stage profile names every iteration prefix."""

import pytest

from nightcrawler_ds_pipeline_spark.crawl.scaling import (
    profile_scaling_stages,
    run_scaling_workload,
)

N = 20_000


@pytest.fixture(scope="module")
def input_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("scaling_inputs"))


def test_mega_batch_counts(spark, input_dir):
    out = run_scaling_workload(spark, n_urls=N, input_dir=input_dir)
    # every host's budget is max_per_host: the batch is the 70% unseen set
    assert out["batch"] == N * 7 // 10
    assert out["decoded_ok"] == out["batch"]
    # synthetic tiles whose phash collides with an earlier row's at this n
    assert out["phash_dups"] == 3
    assert out["urls_per_sec"] > 0


def test_profile_names_every_prefix(spark, input_dir):
    prof = profile_scaling_stages(spark, n_urls=N, input_dir=input_dir)
    assert list(prof) == [
        "scan_frontier",
        "probe_antijoin",
        "dequeue",
        "fetch_decode",
        "next_frontier",
        "full_job",
    ]
    assert all(v >= 0 for v in prof.values())
