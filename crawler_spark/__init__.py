"""crawler_spark — a PySpark-native web-crawl scheduler + rule-extraction engine.

From-scratch reimplementation of the capabilities of songshine/crawler
(reference, read-only at /root/reference) as distributed DataFrame rounds:

* ``rules``     — the reference's extraction-rule language (const/cut/regex/
                  xpath + transforms) as Column expressions / pandas UDFs,
                  with a pure-Python oracle kernel.
* ``corpus``    — deterministic Common-Crawl-style synthetic corpus
                  (pages/seeds/robots/politeness) for tests and benchmarks.
* ``frontier``  — URL canonicalization + hashing, exact URL-seen
                  anti-join, robots, per-host politeness budget.
* ``collector`` — field extraction (fetch-as-join + rule projection,
                  follow-up fetches as joins).
* ``scheduler`` — the BSP round loop with per-round checkpoint/resume and
                  per-partition lineage metrics.
* ``oracle``    — pure-Python BFS reference crawler (test ground truth).
* ``pipeline``  — training-data-pipeline operators (dedup families,
                  similarity search, text analysis, multimodal plumbing).
"""

from crawler_spark import _zipcache  # noqa: F401  (first: patches zipimport)

__version__ = "0.1.0"
