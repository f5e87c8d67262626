"""crawler_seo_spark — a PySpark-native distributed crawl engine.

A from-scratch rebuild of the crawl and SEO-analysis capabilities of the
reference crawler (``GuilhermeAquino92/crawler_seo``) on Apache Spark:

* a partitioned, priority URL frontier with exact reference BFS ordering
  (reference: ``core/url_manager.py``, ``core/crawler.py``),
* sharded Bloom / cuckoo seen-filters + exact anti-join dedup,
* per-host politeness buckets over salted host partitions, and robots.txt
  rules,
* HTML analyzers (metatags / headings / status / mixed-content) as
  Arrow-vectorized column pipelines,
* snapshot-per-round checkpoint/resume with an Iceberg-shaped MERGE INTO,
* an image+caption payload path (decode/validate via pandas UDFs),
* the enriched results table and its report tabs, plus corpus operators
  (dedup families, similarity search, text quality), as Catalyst-native
  DataFrame plans.

Everything here derives from public knowledge only: the PySpark API and the
reference repository's observable behavior.
"""

__version__ = "0.1.0"
