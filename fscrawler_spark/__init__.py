"""fscrawler_spark — a PySpark-native document/transcript extraction engine.

A from-scratch rebuild of the data-processing capabilities of
dadoonet/fscrawler (crawl -> Tika-style extract -> index) as a batch
DataFrame job over a partitioned table of multi-turn conversation/agent
transcripts:

* MIME-sniffed per-turn dispatch (reference: tika/TikaInstance.java:119-218)
* vectorized Arrow UDF extraction: HTML boilerplate strip,
  PDF-like layout parse, JSON/XML payloads, encrypted/broken tolerance
  (reference: tika/TikaDocParser.java)
* extracted main-content text + char-offset spans, truncation semantics
  (reference: TikaInstance.java:249-268 WriteLimitReached)
* partitioned output with per-partition lineage + metrics, idempotent
  checkpoint-based resume (reference: beans/FsCrawlerCheckpoint.java)
* skew-salted conv_id partitioning + AQE settings for the 10^12-turn tier.

Everything here is built on public PySpark APIs only.
"""

__version__ = "0.1.0"
