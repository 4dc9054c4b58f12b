"""facebook_page_scrapy_spark — a PySpark-native crawl frontier + fetch scheduler
+ Arrow-batched extractor with the capabilities of bachtly/facebook-page-scrapy,
built from scratch (NOT a port of its Scrapy engine).

Layout
------
- ``session``            SparkSession factory tuned for the target workload
- ``schemas``            StructType registry for every table (FIXTURES.md)
- ``functions.urls``     URL canonicalization / classification (pure Column ops)
- ``functions.text``     text analytics column functions (token count, quality, ...)
- ``operators.dedup``    URL-seen anti-join + partitioned Bloom filter
- ``operators.scheduler``priority ordering, per-host politeness, robots gate, skew salting
- ``operators.parse``    Arrow-batched HTML extraction (spans / links / comments / reactions)
- ``operators.fetch``    pluggable fetch stage (synthetic corpus in the sandbox)
- ``operators.docops``   large-scale training-data ops (dedup families, ANN, fingerprints)
- ``operators.sketches`` oracle-verifiable Count-Min / KMV sketches (frontier monitoring)
- ``operators.enrich``   comment/reaction MERGE enrichment, repair, emote translation
- ``operators.media``    binary media columns + decode/resize/frame-sample plumbing
- ``jobs``               cluster-launchable jobs (spark-submit --py-files entry)
- ``state.snapshot``     Iceberg-style snapshot/checkpoint layer over parquet
- ``streaming``          watermarked metrics, delta tailing, stateful politeness gate
- ``crawl``              the round-based crawl engine (frontier loop)
- ``simulator``          reference-faithful single-threaded oracle for parity tests
- ``datagen``            deterministic synthetic site graph / corpus generators

Reference behavior citations use ``file:line`` into ``/root/reference`` (read-only).
"""

__version__ = "0.1.0"
