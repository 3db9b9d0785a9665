"""scalpel_ts_spark — a PySpark-native HTML extraction + crawl engine.

A from-scratch engine pairing scalpel-style selector/scraper extraction
semantics (reference: IMax153/scalpel-ts) with a PySpark-native URL
frontier + fetch scheduler.  The extraction core is pure Python
(shipped by cloudpickle, runs identically on the driver and inside
Arrow-batched pandas UDFs); everything cross-document is expressed with
the Spark DataFrame API so Catalyst/AQE plan the physical execution.

Layout:
    core/        single-document extraction semantics (tokenizer, tag
                 forest, selector DFS, scraper + serial combinators)
    functions/   column-level Spark functions (url canon, text quality,
                 hashing, vector math)
    operators/   multi-row operators (extract UDFs, dedup, similarity,
                 top-k-per-group, seen-set anti-join, bloom/cuckoo)
    sources/     table IO (parquet snapshot tables) + deterministic
                 synthetic corpus/fetcher
    plans/       the crawl round loop + the single-process reference
                 simulator used for equality gates
    streaming/   optional Structured Streaming wrapper over the rounds
    multimodal/  binary media column plumbing (decode stubbed)
"""

__version__ = "0.1.0"
