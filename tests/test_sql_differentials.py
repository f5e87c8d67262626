"""DuckDB differentials for the crawl's Spark column expressions.

Each test evaluates a Spark expression the crawl or its report uses over a
table derived from the sf0.001 ``documents`` parquet, and compares it row
for row with an independent SQL formulation of the same reference rule run
by DuckDB over the same file.
"""

import duckdb
import pytest
from pyspark.sql import functions as F
from test_from_documents import SF

from crawler_seo_spark.sources.synthetic_site import BASE

DOCS = f"{SF}/documents.parquet"

# Eight URL kinds per doc_id: a raw link as found on a page and the
# canonical form the reference's normalization gives it.
URL_KINDS_SQL = f"""
  SELECT doc_id,
    CASE doc_id % 8
      WHEN 0 THEN '{BASE}/product/item-' || doc_id
      WHEN 1 THEN '{BASE}/page/info-' || doc_id || '/'
      WHEN 2 THEN '{BASE}/category/cat-' || doc_id || '?utm_source=mail&utm_medium=x'
      WHEN 3 THEN '{BASE}/blog/post-' || doc_id || '#section-2'
      WHEN 4 THEN '{BASE}//docs//guide-' || doc_id
      WHEN 5 THEN '{BASE}/page/info-' || doc_id || '?b=2&a=1'
      WHEN 6 THEN '{BASE}/assets/img-' || doc_id || '.png'
      ELSE        '{BASE}/checkout/cart/add/' || doc_id
    END AS raw_url,
    CASE doc_id % 8
      WHEN 0 THEN '{BASE}/product/item-' || doc_id
      WHEN 1 THEN '{BASE}/page/info-' || doc_id
      WHEN 2 THEN '{BASE}/category/cat-' || doc_id
      WHEN 3 THEN '{BASE}/blog/post-' || doc_id
      WHEN 4 THEN '{BASE}/docs/guide-' || doc_id
      WHEN 5 THEN '{BASE}/page/info-' || doc_id || '?a=1&b=2'
      WHEN 6 THEN '{BASE}/assets/img-' || doc_id || '.png'
      ELSE        '{BASE}/checkout/cart/add/' || doc_id
    END AS expected_canonical
  FROM documents
"""

# Every URL in test_urlnorm.py, plus case variants of the priority paths.
URLNORM_CORPUS = [
    "https://example.com/page1",
    "https://example.com/page1/",
    "https://example.com/page1?utm_source=test",
    "https://example.com/page1#section",
    "https://example.com/page2",
    "https://example.com/page1/?ref=123",
    "https://other-domain.com/page",
    "https://example.com/checkout/cart/add/123",
    "https://example.com/style.css",
    "https://example.com/wp-json/x",
    "https://WWW.Example.COM/",
    "https://www.example.com/a",
    "https://example.com/sub/page2?a=0&a=1&b=2",
    "https://example.com/x?a=&b=1",
    "https://example.com/x?gclid=1&fbclid=2",
    "https://example.com//a//b///c/",
    "https://example.com",
    "https://example.com/page1/?ref=1&z=2&a=3#frag",
    "https://example.com/p?a=b c&d=é",
    "https://x.test/product/1",
    "https://x.test/categoria/2",
    "https://x.test/blog/post",
    "https://x.test/PRODUCT/1",
    "https://x.test/Categoria/2",
    "https://shop.example.test/",
    "https://shop.example.test/fine",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS}')")
    yield con
    con.close()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_is_priority_col_equals_is_priority(spark, duck):
    """The engine orders the frontier with ``is_priority_col``; it must
    classify every URL exactly as the oracle's ``is_priority`` does, for the
    default patterns and for a configured list."""
    from crawler_seo_spark.functions.urlnorm import is_priority, is_priority_col

    kinds = duck.execute(
        f"SELECT doc_id, raw_url, expected_canonical, doc_id % 8 IN (0, 2) "
        f"FROM ({URL_KINDS_SQL}) WHERE doc_id < 64").fetchall()
    urls = URLNORM_CORPUS + [u for _, raw, canon, _ in kinds
                             for u in (raw, canon)]
    # the SQL side's own rule: /product/ and /category/ kinds are priority
    for _, _, canon, prio in kinds:
        assert is_priority(canon) == prio, canon

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i int, url string")
    custom = ["/blog/", "/PAGE/"]
    got = {r["i"]: (r["default"], r["custom"]) for r in df.select(
        "i", is_priority_col(F.col("url")).alias("default"),
        is_priority_col(F.col("url"), custom).alias("custom")).collect()}
    assert len(got) == len(urls)
    for i, u in enumerate(urls):
        assert got[i] == (is_priority(u), is_priority(u, custom)), u


def test_length_status_col_buckets(docs, duck):
    """Title length buckets (metatags_analyzer.py:81-120): Ausente / Muito
    curto / Muito longo / OK at the 30/60 bounds."""
    from crawler_seo_spark.plans.enrich import length_status_col

    got = docs.select(
        "doc_id", ((F.col("doc_id") * 7) % 80).cast("int").alias("n")) \
        .withColumn("status", length_status_col(F.col("n"), 30, 60))
    want = duck.execute("""
        SELECT doc_id, n,
          CASE WHEN n = 0 THEN 'Ausente'
               WHEN n < 30 THEN 'Muito curto'
               WHEN n > 60 THEN 'Muito longo'
               ELSE 'OK' END
        FROM (SELECT doc_id, (doc_id * 7) % 80 AS n FROM documents)
    """).fetchall()
    assert _rows(got, "doc_id", "n", "status") == sorted(want)
    assert {w[2] for w in want} == {"Ausente", "Muito curto", "Muito longo",
                                     "OK"}


def test_duplicate_flag_col_first_seen_unflagged(docs, duck):
    """Title/description duplicate flags (metatags_analyzer.py:196-228):
    the first occurrence in crawl order is unflagged, empties never flag."""
    from crawler_seo_spark.plans.enrich import duplicate_flag_col

    d = F.col("doc_id")
    got = docs.select(
        "doc_id",
        F.concat(F.lit("Página "), d % 40).alias("title"),
        F.when(d % 10 == 9, "").otherwise(
            F.concat(F.lit("Desc "), d % 25)).alias("description"))
    got = got.select(
        "doc_id",
        duplicate_flag_col(F.col("title"), d).alias("t"),
        duplicate_flag_col(F.col("description"), d).alias("dsc"))
    want = duck.execute("""
        SELECT doc_id,
          title <> '' AND row_number() OVER (
              PARTITION BY title ORDER BY doc_id) > 1,
          description <> '' AND row_number() OVER (
              PARTITION BY description ORDER BY doc_id) > 1
        FROM (SELECT doc_id, 'Página ' || (doc_id % 40) AS title,
                     CASE WHEN doc_id % 10 = 9 THEN ''
                          ELSE 'Desc ' || (doc_id % 25) END AS description
              FROM documents)
    """).fetchall()
    assert _rows(got, "doc_id", "t", "dsc") == sorted(want)


def test_status_warnings_col_per_status(spark, duck):
    """Per-status warning strings (status_analyzer.py:84-97) for 200, a
    redirect, 404, 5xx and 403."""
    from crawler_seo_spark.plans.enrich import status_warnings_col

    sql_rows = f"""
        SELECT doc_id, expected_canonical AS url,
          CASE WHEN doc_id % 11 = 1 THEN 301
               WHEN doc_id % 11 = 2 THEN 404
               WHEN doc_id % 11 = 3 THEN 503
               WHEN doc_id % 11 = 4 THEN 403
               ELSE 200 END AS status_code
        FROM ({URL_KINDS_SQL})"""
    rows = duck.execute(sql_rows).fetchall()
    got = spark.createDataFrame(rows, "doc_id long, url string, "
                                      "status_code int")
    got = got.select("doc_id", F.array_join(status_warnings_col(
        F.col("status_code"), F.col("url"), F.col("url")), " | ")
        .alias("warnings"))
    want = duck.execute(f"""
        SELECT doc_id,
          CASE WHEN status_code = 200 THEN ''
            ELSE 'Página retornou código de status ' || status_code ||
              CASE WHEN status_code IN (301,302,303,307,308)
                     THEN ' | Redirect ' || status_code || ': ' || url
                          || ' → ' || url
                   WHEN status_code = 404
                     THEN ' | Página não encontrada (404)'
                   WHEN status_code >= 500
                     THEN ' | Erro do servidor (' || status_code || ')'
                   WHEN status_code = 403 THEN ' | Acesso negado (403)'
                   ELSE '' END
          END
        FROM ({sql_rows})
    """).fetchall()
    assert _rows(got, "doc_id", "warnings") == sorted(want)


def test_detect_changes_all_four_statuses(docs, duck):
    """Recrawl change detection over two cache snapshots: NEW / CHANGED /
    UNCHANGED / GONE per URL (a full outer join on url)."""
    from crawler_seo_spark.operators.recrawl import detect_changes

    d = F.col("doc_id")
    url = F.concat(F.lit(f"{BASE}/p/"), d)
    old = docs.filter(d % 5 != 4).select(
        url.alias("url"), F.md5("text").alias("content_md5"),
        d.alias("checked_seq"))
    new = docs.filter(d % 7 != 6).select(
        url.alias("url"),
        F.md5(F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" changed")))
              .otherwise(F.col("text"))).alias("content_md5"),
        (d + 1000).alias("checked_seq"))
    got = detect_changes(old, new)
    want = duck.execute(f"""
        WITH o AS (SELECT '{BASE}/p/' || doc_id AS url, md5(text) AS m
                   FROM documents WHERE doc_id % 5 <> 4),
             n AS (SELECT '{BASE}/p/' || doc_id AS url,
                          md5(CASE WHEN doc_id % 3 = 0
                                   THEN text || ' changed' ELSE text END) AS m
                   FROM documents WHERE doc_id % 7 <> 6)
        SELECT url,
          CASE WHEN o.m IS NULL THEN 'NEW'
               WHEN n.m IS NULL THEN 'GONE'
               WHEN o.m <> n.m THEN 'CHANGED'
               ELSE 'UNCHANGED' END
        FROM o FULL OUTER JOIN n USING (url)
    """).fetchall()
    assert _rows(got, "url", "change_status") == sorted(want)
    assert {w[1] for w in want} == {"NEW", "CHANGED", "UNCHANGED", "GONE"}


def test_generated_image_metadata(duck):
    """The generated image table's id format, format rotation and caption
    phrase, reconstructed independently in SQL."""
    from crawler_seo_spark.sources.images import generate_images

    got = sorted((r["image_id"], r["fmt"], r["caption"])
                 for r in generate_images(120))
    want = duck.execute("""
        WITH idx AS (SELECT unnest(range(120)) AS i),
        v AS (SELECT
          ['aerial','amber','ancient','bright','coastal','crimson','dappled',
           'dusty','foggy','gilded','glassy','jagged','lunar','mossy','neon',
           'quiet','rustic','silver','sunlit','winding'] AS vocab,
          ['archway','bridge','canyon','harbor','lantern','market','meadow',
           'orchard','plaza','ridge','rooftop','shoreline','staircase',
           'terrace','valley','waterfall','window','workshop','garden',
           'tower'] AS nouns,
          ['png','jpeg','webp'] AS fmts)
        SELECT 'img-' || lpad(i::VARCHAR, 10, '0'),
               fmts[(i % 3) + 1],
               vocab[(i % 20) + 1] || ' ' || nouns[((i // 20) % 20) + 1]
                 || ' with ' || vocab[((i * 7 + 3) % 20) + 1]
                 || ' light #' || i::VARCHAR
        FROM idx, v
    """).fetchall()
    assert got == sorted(want)
