"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference stream job ``flight-events-flink-job``.

The reference (see SURVEY.md) is a Flink DataStream job that parses JSON
flight events from Kafka, enriches them (delay flag normalization +
derived ``delay_minutes``), and fans out into delay notifications plus
three tumbling-window aggregations served from ClickHouse tables.

This engine re-expresses that surface Spark-first, and extends it with
the operators a large-scale training-data pipeline needs:

- ``operators/parse.py`` / ``notifications.py`` / ``aggregates.py`` —
  the reference-parity relational core: pure ``DataFrame -> DataFrame``
  functions that Catalyst plans and optimizes;
- ``operators/dedup.py`` — exact, MinHash+LSH, prefix-filter n-gram
  Jaccard, SimHash, and bucketed embedding-cosine deduplication;
- ``operators/similarity.py`` — exact, hyperplane-LSH and IVF top-k
  nearest neighbors (cosine and MIPS) on one rank skeleton;
- ``operators/text.py`` / ``props.py`` — per-doc quality stats, term
  frequency, heuristic language ID, content fingerprints, JSON
  property mining;
- ``operators/multimodal.py`` — binary payload + metadata columns with
  Arrow-batched (mapInPandas) feature extraction;
- ``sources/`` — driver-fixture loaders, the Kafka-shaped payload
  adapter, and the Kafka source/sink builders (``sources/kafka.py``);
- ``streaming/`` — the single-scan multi-sink ``foreachBatch`` job,
  watermarked append-mode aggregates, partitioned serving-table
  writes, the ``applyInPandasWithState`` custom stateful operator, and
  watermarked stream-stream interval joins (``streaming/job.py`` /
  ``sinks.py`` / ``stateful.py`` / ``joins.py``);
- ``observability.py`` — the reference's per-record log taps as
  executor-side observed metrics;
- ``plans/`` — the driver contract surface: every query paired with
  its DuckDB oracle (``registry.py``, ``registry_ext.py``,
  ``registry_stream.py``).
"""

__version__ = "0.2.0"
