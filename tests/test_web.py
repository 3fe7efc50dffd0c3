"""Pins for the HTML ingestion layer (operators/web.py html_to_text /
extract_links): markup stripping, entity decoding, anchor extraction
across quote styles, and the narrow-plan guarantee."""

from __future__ import annotations

from pyspark.sql import functions as F



def test_html_to_text_strips_script_style_comments_entities(spark):
    from opendosm_parquet_to_sqlite_spark.operators.web import html_to_text

    html = (
        "<html><head><style>body { color: red }</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<body><!-- hidden --><h1>Title</h1>"
        "<p>first&nbsp;para &amp; more</p><p>second</p>"
        "<div>a<br>b</div><span>inline</span>tail</body></html>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    out = df.select(html_to_text(F.col("html")).alias("t")).collect()[0]["t"]
    assert out == "Title first para & more second a b inlinetail"
    # script/style payloads must not leak
    assert "color" not in out and "not text" not in out and "hidden" not in out


def test_html_to_text_plain_text_roundtrip(spark):
    from opendosm_parquet_to_sqlite_spark.operators.web import html_to_text

    df = spark.createDataFrame([("just   plain\n text",)], "html string")
    out = df.select(html_to_text(F.col("html")).alias("t")).collect()[0]["t"]
    assert out == "just plain text"


def test_extract_links_quote_styles_and_anchor_text(spark):
    from opendosm_parquet_to_sqlite_spark.operators.web import extract_links

    html = (
        '<p><a href="https://a.com/x">Link <b>A</b></a>'
        "<a href='https://b.com/y'>B</a>"
        "<a href=/rel/z>rel</a>"
        "<a name=anchor-without-href>skip</a>"
        "<a href=\"https://c.com\"><img src=i.png></a></p>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = {
        r["href"]: r["anchor_text"]
        for r in extract_links(df, "html", "doc_id").collect()
    }
    assert rows == {
        "https://a.com/x": "Link A",
        "https://b.com/y": "B",
        "/rel/z": "rel",
        "https://c.com": "",
    }


def test_extract_links_is_narrow_until_anchor_explode(spark):
    from opendosm_parquet_to_sqlite_spark.operators.web import extract_links

    from .plan_audit import plan_report

    df = spark.createDataFrame(
        [(i, f'<a href="https://h{i}.com">x</a>') for i in range(50)],
        "doc_id long, html string",
    )
    rep = plan_report(extract_links(df, "html", "doc_id"))
    assert rep["n_exchanges"] == 0 and not rep["has_python_udf"]
