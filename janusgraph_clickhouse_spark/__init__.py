"""janusgraph_clickhouse_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the system enabled by the reference
(`artjourney/janusgraph-clickhouse`, a JanusGraph KeyColumnValueStore adapter
over ClickHouse — see SURVEY.md) as an idiomatic Spark DataFrame/SQL engine:

- ``sources``    — table catalog / parquet loaders with explicit schemas.
- ``operators``  — the reference's KCVS operator surface (slice, multi-key
                   slice, key scan, mutate) re-expressed as DataFrame plans,
                   plus relational/traversal operators.
- ``graph``      — property-graph model + traversal DSL + Pregel-on-DataFrames
                   analytics (PageRank, connected components, BFS, triangles).
- ``llm``        — large-scale training-data pipeline operators: dedup (exact,
                   MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup),
                   similarity search, text analysis, multimodal columns.
- ``streaming``  — Structured Streaming ops: watermarks, windows, sessionize,
                   foreachBatch upsert (the analog of the reference's
                   mutate/txlog semantics).
- ``functions``  — scalar predicate/function library (JanusGraph predicate →
                   Spark Column mapping).

Everything is declared through the DataFrame API so Catalyst/Tungsten handle
pushdown, pruning, join planning, AQE and codegen; Python UDFs appear only as
Arrow-batched pandas UDFs in the LLM ops where built-ins can't express the
semantics.
"""

__version__ = "0.1.0"
