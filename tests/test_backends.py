"""S8 alternate fetch backend, P12 inference branch, F8 double-encode,
S9 delivery-policy stub."""

import pytest

from nightcrawler_ds_pipeline_spark.crawl.backends import normalize_responses
from nightcrawler_ds_pipeline_spark.functions.urls import double_urlencode

DIFFBOT_SCHEMA = (
    "url string, errorCode int, seconds_taken double, "
    "objects array<struct<title:string, offerPrice:string, text:string, "
    "images:array<struct<url:string, primary:boolean>>, links:array<string>>>"
)


def _diffbot_rows():
    return [
        (
            "https://a.ch/p/1",
            None,
            0.1,
            [
                (
                    "Product A",
                    "19.90 CHF",
                    "Desc A",
                    [
                        ("img://img000000000001", False),
                        ("img://img000000000002", True),
                    ],
                    ["https://a.ch/p/2"],
                )
            ],
        ),
        ("https://b.com/p/2", 500, 0.2, None),  # API error
        ("https://c.com/p/3", None, 0.3, []),  # no product extracted
    ]


def test_diffbot_normalization(spark):
    raw = spark.createDataFrame(_diffbot_rows(), DIFFBOT_SCHEMA)
    out = {r["url"]: r for r in normalize_responses(raw, "diffbot").collect()}
    a = out["https://a.ch/p/1"]
    assert not a["error"]
    assert a["product_name"] == "Product A"
    assert a["product_price"] == "19.90" and a["currency_raw"] == "CHF"
    # primary image wins over first-listed
    assert a["main_image_url"] == "img://img000000000002"
    assert a["image_urls"] == [
        "img://img000000000001",
        "img://img000000000002",
    ]
    assert a["outlinks"] == ["https://a.ch/p/2"]
    assert a["probability"] is None
    assert out["https://b.com/p/2"]["error"]
    assert out["https://c.com/p/3"]["error"]
    with pytest.raises(ValueError):
        normalize_responses(raw, "scrapyd")


def test_diffbot_through_fetch_batch(spark, t1_dir):
    from nightcrawler_ds_pipeline_spark.crawl.fetch import fetch_batch
    from nightcrawler_ds_pipeline_spark.crawl.loop import seed_frontier
    from nightcrawler_ds_pipeline_spark.crawl.politeness import assign_global_seq

    images = spark.read.parquet(f"{t1_dir}/images.parquet")
    # hand-build a 1-row batch matching the diffbot fixture url
    batch = assign_global_seq(
        seed_frontier(
            spark.createDataFrame(
                [("k", "GOOGLE", 1, "https://a.ch/p/1", None, None, 1.0, None, None)],
                "keyword string, offer_root string, position int, url string, "
                "image_url string, keyword_enriched string, keyword_volume double, "
                "keyword_language string, keyword_location string",
            )
        ),
        1,
    )
    raw = spark.createDataFrame(_diffbot_rows(), DIFFBOT_SCHEMA)
    fetched = fetch_batch(batch, raw, images, backend="diffbot").collect()
    assert len(fetched) == 1
    row = fetched[0]
    assert not row["error"]
    assert row["image_id"] == "img000000000002"
    assert row["decode_ok"]  # resolved + decoded through the normal path


def test_page_type_infer_branch(spark):
    from nightcrawler_ds_pipeline_spark.pipeline.stages import (
        PipelineConfig,
        s07_page_type,
    )

    cfg = PipelineConfig(page_type_method="infer")
    ok = spark.createDataFrame(
        [("u1", "<html>x</html>", 0.9), ("u2", "<html>y</html>", None)],
        "url string, html string, zyte_probability double",
    )
    rows = s07_page_type(ok, cfg).collect()
    # dummy endpoint proba = 0.5 > 0.4 for every html-bearing row,
    # regardless of the zyte probability
    assert all(r["page_type"] == "ecommerce_product" for r in rows)

    # reference contract: raise when a row has no HTML (s07:66-68)
    bad = spark.createDataFrame(
        [("u1", "<html>x</html>"), ("u2", None)], "url string, html string"
    )
    with pytest.raises(Exception, match="does not contain HTML"):
        s07_page_type(bad, PipelineConfig(page_type_method="infer")).collect()
    # and when the column is absent entirely
    nohtml = spark.createDataFrame([("u1", 0.9)], "url string, zyte_probability double")
    with pytest.raises(Exception, match="does not contain HTML"):
        s07_page_type(nohtml, PipelineConfig(page_type_method="infer")).collect()


def test_double_urlencode_golden():
    # reference quirk (s03_reverse_image_search.py:47-48):
    # quote_plus(quote_plus(url)) — golden I/O pairs
    assert (
        double_urlencode("https://a.ch/p/1?x=1&y=z")
        == "https%253A%252F%252Fa.ch%252Fp%252F1%253Fx%253D1%2526y%253Dz"
    )
    # space → '+' on pass 1, '+' → %2B on pass 2
    assert double_urlencode("https://a.ch/a b") == "https%253A%252F%252Fa.ch%252Fa%2Bb"
    # already-encoded input keeps stacking (that is the quirk)
    assert double_urlencode("a%20b") == "a%252520b"


def test_delivery_policy_stub_rules(spark):
    from nightcrawler_ds_pipeline_spark.operators.llm import (
        classify_delivery_policy,
    )

    df = spark.createDataFrame(
        [
            (1, "We deliver WORLDWIDE."),
            (2, "Versand nur in DE. Does not ship to Switzerland."),
            (3, "Ships to Switzerland in 3 days"),
            (4, "Shipping across Europe"),
            (5, "DHL-Paket innerhalb Deutschlands"),
            (6, None),
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in classify_delivery_policy(df).collect()}
    assert out[1]["is_shipping_ch_answer"] == "yes"
    assert out[2]["is_shipping_ch_answer"] == "no"  # refusal beats 'switzerland'
    assert out[3]["is_shipping_ch_answer"] == "yes"
    assert out[4]["is_shipping_ch_answer"] == "yes"
    assert out[5]["is_shipping_ch_answer"] == "not_clear"
    assert out[6]["is_shipping_ch_answer"] == "not_clear"
    assert out[2]["is_shipping_ch_justification"] == "matched:does not ship to switzerland"
    # memo key = sha256(prompt-version _ text), the APICaller hash shape
    assert len(out[1]["llm_cache_key"]) == 64


def test_s06_llm_stub_wiring(spark, t1_dir):
    from nightcrawler_ds_pipeline_spark.pipeline.stages import (
        PipelineConfig,
        run_text_pipeline,
        s01_serp_scan,
        s04_zyte_fetch,
        s06_delivery_policy,
    )

    serp = spark.read.parquet(f"{t1_dir}/serp_results.parquet")
    responses = spark.read.parquet(f"{t1_dir}/fetch_responses.parquet")
    cfg = PipelineConfig(delivery_policy_method="llm_stub")
    df = s04_zyte_fetch(s01_serp_scan(serp, cfg), responses, cfg)
    out = s06_delivery_policy(df, cfg)
    assert {"is_shipping_ch_answer", "is_shipping_ch_justification",
            "llm_cache_key"} <= set(out.columns)
    # the sink projection is unchanged either way (S9 is an enrichment)
    base = run_text_pipeline(serp, responses, PipelineConfig())
    stub = run_text_pipeline(serp, responses, cfg)
    assert base.columns == stub.columns
    assert base.exceptAll(stub).count() == 0
