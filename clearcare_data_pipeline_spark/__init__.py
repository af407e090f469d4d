"""clearcare_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference healthcare price-transparency pipeline
(Nikitha-Masineni/ClearCare-Data-Pipeline; see SURVEY.md), extended with
the operators a large-scale (100 TB) training-data pipeline needs:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding near-dup), similarity search, text analysis and windowed
event analytics.

Design stance (SURVEY.md §7): DataFrame/SQL only — declare logical
plans, let Catalyst/Tungsten choose physical strategy. Python UDFs only
where builtins genuinely cannot express the semantics, and then always
Arrow-vectorized.
"""

__version__ = "0.1.0"
