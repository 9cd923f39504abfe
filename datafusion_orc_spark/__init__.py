"""datafusion_orc_spark — a PySpark-native per-column lightweight-compression
engine with the capabilities of datafusion-contrib/datafusion-orc.

The reference (/root/reference, datafusion-orc v0.7.0) integrates an ORC
file-format reader into DataFusion; all format semantics live in ORC v1.
This package re-expresses that capability Spark-first:

- ``codecs``   : pure-numpy encode/decode kernels (RLEv2, byte/bool RLE,
                 bit-packing, varint/zigzag, dictionary, FSST,
                 frame-of-reference) — SURVEY.md §2.3/§2.4.
- ``format``   : the stripe-blob container format + a pure-python ORC
                 reader subset for conformance against the reference's
                 own test corpus (reference: src/file_format.rs,
                 src/physical_exec.rs).
- ``operators``: Arrow-vectorized Spark operators (``mapInArrow`` encode /
                 decode) — the engine's hot path, zero per-row Python.
- ``sources``  : deterministic tokenized-sequence table generation and a
                 snapshot-manifest table layer (Iceberg-style semantics on
                 parquet, since no Iceberg jars ship in-sandbox).
- ``plans``    : end-to-end encode pipeline (salting/repartition, lineage,
                 checkpoint resume).
- ``functions``: training-data pipeline ops (dedup, similarity search,
                 text analysis) as DataFrame compositions.
"""

__version__ = "0.2.0"

# Public API, lazily resolved (PEP 562): workers import this package for
# the codec kernels, so the top level must not pull pyspark eagerly.
_API = {
    "OrcReader": "datafusion_orc_spark.format.orc_reader",
    "read_orc": "datafusion_orc_spark.format.orc_reader",
    "write_orc": "datafusion_orc_spark.format.orc_writer",
    "read_orc_distributed": "datafusion_orc_spark.sources.orc_source",
    "register_orc": "datafusion_orc_spark.sources.orc_source",
    "write_orc_distributed": "datafusion_orc_spark.sources.orc_sink",
    "encode_files": "datafusion_orc_spark.operators.encode",
    "encode_table": "datafusion_orc_spark.operators.encode",
    "decode_table": "datafusion_orc_spark.operators.encode",
    "verify_roundtrip": "datafusion_orc_spark.operators.encode",
    "StripeBlobDataSource": "datafusion_orc_spark.sources.stripeblob_datasource",
    "read_stripeblob": "datafusion_orc_spark.sources.stripeblob_datasource",
}


def __getattr__(name: str):
    mod = _API.get(name)
    if mod is None:
        raise AttributeError(f"module 'datafusion_orc_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


def __dir__():
    return sorted(list(globals()) + list(_API))
