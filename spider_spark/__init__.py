"""spider_spark — a from-scratch PySpark-native crawl-analytics engine.

Re-expresses the computational semantics of the reference crawler stack
(pengdan01/spider, a C++ Hadoop-streaming MapReduce crawler; see SURVEY.md)
as idiomatic PySpark: DataFrame/SQL logical plans optimized by Catalyst/AQE,
vectorized pandas/Arrow UDFs where built-ins can't express the semantics,
and a micro-batch crawl-round loop over partitioned tables of interleaved
text+media documents.

Modules
-------
session      SparkSession factory with scale-tuned confs (AQE, Arrow, shuffle)
urlkit       URL canonicalization, 64-bit fingerprints, host parsing/sharding
spans        interleaved-document schema, synthetic web generator, outlink
             extraction (the engine's primary input per BASELINE.json)
seen         URL-seen set: exact 64-bit sign shards (sorted uint64 signs +
             uint16 last-crawl rounds per bucket blob; the one place that
             encodes/decodes/probes/expires it)
fused        the round's seen-probe + per-host admission as one cogrouped
             Arrow stage
frontier     UV scoring, priority banding, per-host top-k budgets
politeness   robots gating, holdon/drop host state, budget windows, per-ip cap
round        the micro-batch crawl round: extract→dedupe→score→schedule→
             fetch(simulated)→merge, checkpoint/resume with lineage
logs         pv/search/click log pipelines feeding the scorer
selector     multi-source frontier union, VIP/page-N/category gates, URL
             transforms (incl. the faithful Baidu/Google redirect-target
             parsers), DNS/ip attach, proxy routing, updater, evaluation
rulebook     P7's full selector rule config as DATA (host black/restrict
             lists, ~70-row site rule book, strict variants) + the
             WillFilterAccordingRules gate as one column expression
data_tld     the 3,599-entry public-suffix table behind ParseHost (P6)
data_baidu_keys  Baidu /link XOR-cipher constants (P13 crack data)
simhash      64-bit simhash + Manku block-permutation near-dup index
dedup        exact / minhash-LSH / n-gram-Jaccard / embedding dedup family
similarity   cosine kernels, brute-force + IVF-lite + multi-probe-LSH ANN,
             hyperplane bucket keys
textstats    language ID, quality scoring, token counting, fingerprints
multimodal   binary media columns + real PNG/BMP/PPM/WAV/Y4M decode kernels
             (decode_images / decode_audio / sample_frames); jpeg/mp3/mp4
             behind the codec extension point
simulator    pure-Python reference simulator (correctness oracle for
             crawl ordering + URL-seen set under a seeded politeness budget)
"""

__version__ = "0.1.0"
