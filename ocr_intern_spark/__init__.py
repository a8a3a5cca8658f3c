"""ocr_intern_spark — a PySpark-native main-content extraction engine.

Brand-new implementation (NOT a port) with the query/data-processing
capabilities of the reference system (wizardus999-code/OCR-intern,
surveyed in SURVEY.md): bilingual FR+AR span extraction, boilerplate
stripping, media-region OCR span emission, reading-order
reconstruction, field normalization, document-type classification,
plus the relational analytics surface (aggregates, joins, top-K) and
large-scale training-data-pipeline operators (dedup, similarity
search, text quality).

Architecture: declarative DataFrame plans end to end. Where Python
is needed (the recognizer, template regions, layout order, media
renderers, keyed streaming state), it runs only in Arrow-batched
stages — `mapInPandas`, `applyInPandas*`, a grouped-agg pandas UDF,
an Arrow UDTF — never as a per-row Python UDF.
"""

__version__ = "0.1.0"
