"""Repository benchmark for vector_index_spark: seeded input generators,
output oracles, an in-memory span tracer and the three workloads
(``ann_bulk``, ``serve_mixed``, ``dedup_corpus``). Run it with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see README.md in this directory."""
