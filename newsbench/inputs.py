"""Seeded input generators, written once per run to parquet.

The shapes mirror the engine's fixtures (``scrapy_newsutils_spark.fixtures``)
with the seed threaded through every hash and draw, so the same seed gives
the same inputs under any parallelism. Generation happens before the
set-up window opens; the program then receives only DataFrames read back
from these files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrapy_newsutils_spark import fixtures, schemas
from scrapy_newsutils_spark.functions.images import encode_image, phash64

BASE_TS = fixtures.BASE_TS.replace(tzinfo=None)


def frontier(spark: SparkSession, n: int, n_payloads: int,
             seed: int) -> DataFrame:
    """``fixtures.frontier_table`` with a seed: 2 hot hosts own 40% of rows,
    ~1/17 of paths are ``/private/``, 1/7 of rows have no payload, each
    host's lowest id is its seed URL (priority 1.0, depth 0)."""
    i = F.col("id")
    s = F.lit(seed)
    host = (F.when(i % 5 == 0, F.lit(fixtures.HOT_HOSTS[0]))
            .when(i % 5 == 1, F.lit(fixtures.HOT_HOSTS[1]))
            .otherwise(F.concat(
                F.lit("h"),
                F.pmod(F.xxhash64(i, s), F.lit(fixtures.N_HOSTS - 2)),
                F.lit(".example.com"))))
    path = F.concat(
        F.when(F.pmod(F.xxhash64(i, s, F.lit(3)), F.lit(17)) == 3,
               F.lit("/private/")).otherwise(F.lit("/p/")),
        i.cast("string"))
    df = (
        spark.range(n)
        .withColumn("host", host)
        .withColumn("url", F.concat(F.lit("https://"), F.col("host"), path))
        .withColumn("url_surt", F.concat(
            F.array_join(F.reverse(F.split(F.col("host"), r"\.")), ","),
            F.lit(")"), path))
        .withColumn("url_key", F.xxhash64("url_surt"))
    )
    min_ids = df.groupBy("host").agg(F.min("id").alias("_min_id"))
    is_seed = F.col("id") == F.col("_min_id")
    return (
        df.join(F.broadcast(min_ids), "host")
        .withColumn("priority", F.when(is_seed, F.lit(1.0)).otherwise(
            F.pmod(F.xxhash64("url", s), F.lit(1_000_000)) / 1_000_000.0))
        .withColumn("depth", F.when(is_seed, F.lit(0)).otherwise(
            (F.pmod(i, F.lit(5)) + 1)).cast("int"))
        .withColumn("discovered_ts", F.lit(BASE_TS)
                    + F.make_interval(secs=i.cast("double")))
        .withColumn("image_id", F.when(
            F.pmod(F.xxhash64(i, s, F.lit(7)), F.lit(7)) != 6,
            F.format_string("img-%08d", F.pmod(F.xxhash64(i + 1, s),
                                               F.lit(n_payloads)).cast("int"))))
        .withColumn("epoch_added", F.lit(0))
        .select([f.name for f in schemas.FRONTIER.fields])
    )


def write_payloads(path: str, n: int, seed: int) -> None:
    """IMAGES-schema payloads ``img-00000000 .. n-1``: small seeded PNGs
    (8-16 px), written straight to parquet with the table's column types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for k in range(n):
        rng = np.random.default_rng([seed, k])
        w, h = int(rng.choice([8, 16])), int(rng.choice([8, 12]))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append({"image_id": f"img-{k:08d}", "bytes": encode_image(px, "png"),
                     "w": w, "h": h, "fmt": "png", "caption": f"png {k}",
                     "phash": phash64(px)})
    schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                        ("w", pa.int32()), ("h", pa.int32()),
                        ("fmt", pa.string()), ("caption", pa.string()),
                        ("phash", pa.int64())])
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, "part-0.parquet"))


def write_crawl_inputs(spark: SparkSession, out: str, seed: int, rows: int,
                       n_payloads: int) -> None:
    """The frontier and the payloads; url_seen is ``fixtures.url_seen_table``
    over the written frontier (10% of its keys, pre-seen)."""
    frontier(spark, rows, n_payloads, seed).write.parquet(
        os.path.join(out, "frontier"))
    write_payloads(os.path.join(out, "payloads"), n_payloads, seed)


# ---------------------------------------------------------------------------
# news-day

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
SOURCE_URL = "https://news.example.com"
DAYS = [dt.date(2024, 3, d) for d in range(1, 6)]


def documents(n: int, seed: int) -> pd.DataFrame:
    """The ``documents`` table's shape: 10-100 words from a 31-word
    vocabulary, a language and a source. The seed draws the texts and
    assigns doc ids by permutation, which sets each page's day
    (``doc_id % 5`` in ``fixtures.html_pages_from_docs``)."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k))
             for k in lens]
    return pd.DataFrame({
        "doc_id": rng.permutation(n).astype(np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=n)],
        "source": [f"src{j}" for j in rng.integers(0, N_SOURCES, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# recrawl edits, closed-form in doc_id so the DuckDB oracle can rebuild them:
# doc_id % 7 == 0 gets a text edit (new_version), == 3 a new og:image (minor)
EDIT_TEXT_MOD, EDIT_IMAGE_MOD = 0, 3
EDIT_WORD = "updated"


def pages(docs: DataFrame, m: int, edited: bool) -> DataFrame:
    """(url, html) pages via ``fixtures.html_pages_from_docs``; ``edited``
    applies the recrawl edits."""
    if edited:
        docs = docs.withColumn("text", F.when(
            F.col("doc_id") % 7 == EDIT_TEXT_MOD,
            F.concat(F.col("text"), F.lit(" " + EDIT_WORD)))
            .otherwise(F.col("text")))
    out = fixtures.html_pages_from_docs(docs, m, SOURCE_URL)
    if edited:
        i = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
        out = out.withColumn("html", F.when(
            i % 7 == EDIT_IMAGE_MOD,
            F.regexp_replace("html", r"/og/(\d+)\.png", "/og/$1-v2.png"))
            .otherwise(F.col("html")))
    return out


def page_payloads(pgs: DataFrame) -> DataFrame:
    """IMAGES-schema payload rows ``pg-<doc_id>`` holding each page's HTML."""
    i = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    return pgs.select(
        F.format_string("pg-%d", i).alias("image_id"),
        F.encode("html", "UTF-8").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit("html").alias("fmt"),
        F.format_string("caption %d", i).alias("caption"),
        i.alias("phash"),
    )


def url_drops(pgs: DataFrame) -> DataFrame:
    """FRONTIER-schema URL drops for the crawl stream, one per page."""
    from scrapy_newsutils_spark.functions import urls as url_fns

    i = F.regexp_extract("url", r"/post/(\d+)$", 1).cast("long")
    return url_fns.with_url_identity(pgs.select("url")).select(
        "url", "url_surt", "url_key", "host",
        F.lit(1.0).alias("priority"), F.lit(0).alias("depth"),
        F.lit(BASE_TS).alias("discovered_ts"),
        F.format_string("pg-%d", i).alias("image_id"),
        F.lit(0).alias("epoch_added"),
    ).select([f.name for f in schemas.FRONTIER.fields])


def write_news_inputs(spark: SparkSession, out: str, seed: int, n_docs: int,
                      n_drop_files: int) -> None:
    """The documents table and the URL drop files. Pages and payloads are
    deterministic views of the documents (``pages``, ``page_payloads``)."""
    os.makedirs(out)
    docs_path = os.path.join(out, "documents.parquet")
    documents(n_docs, seed).to_parquet(docs_path, index=False)
    v1 = pages(spark.read.parquet(docs_path), n_docs, edited=False)
    write_drop_files(url_drops(v1).toPandas(), os.path.join(out, "drops"),
                     n_drop_files, seed)


def write_drop_files(drops: pd.DataFrame, out: str, n_files: int,
                     seed: int) -> None:
    """Split the drops over ``n_files`` parquet files in a seeded order, so
    each micro-batch of the file source gets a seeded slice of the pages."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out)
    drops = drops.iloc[np.random.default_rng(seed).permutation(len(drops))]
    table = pa.Table.from_pandas(drops, preserve_index=False)
    # Spark reads microsecond UTC-adjusted parquet timestamps as TIMESTAMP
    ts = table.schema.get_field_index("discovered_ts")
    table = table.set_column(ts, "discovered_ts", pc.assume_timezone(
        table.column(ts).cast(pa.timestamp("us")), "UTC"))
    for k, idx in enumerate(np.array_split(np.arange(len(drops)), n_files)):
        pq.write_table(table.take(idx),
                       os.path.join(out, f"drop-{k:03d}.parquet"))
