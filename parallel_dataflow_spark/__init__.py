"""parallel_dataflow_spark — a PySpark-native streaming dataflow / analytics engine.

A from-scratch re-expression of the capabilities of the reference engine
``gabizon103/parallel-dataflow`` (a Rust worklist dataflow-analysis engine,
see /root/reference) in idiomatic PySpark:

- batch analytics over the DataFrame/SQL API (Catalyst plans everything),
- an iterative BSP fixpoint driver + in-task sequential kernels that mirror
  the reference's four executors (sequential / parallel / across-functions /
  mixed; reference: impls/src/{sequential,parallel,mixed}.rs,
  utils/src/dataflow_executor.rs),
- Structured Streaming: tumbling/sliding/session windows, watermarks,
  stream-stream joins, keyed state (applyInPandasWithState), NFA CEP,
  an idempotent exactly-once sink, checkpoint resume, metrics listeners,
- training-data pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard), similarity search over embeddings, text analysis,
  multimodal binary-column plumbing.

All token-array / heavy per-row work runs through vectorized pandas/Arrow
UDFs — never row-at-a-time Python.
"""

__version__ = "0.1.0"

from parallel_dataflow_spark.pkgzip import install_zip_dir_cache  # noqa: E402

install_zip_dir_cache()
