"""videos_to_tfrecords_spark — a PySpark-native analytics/data-processing engine.

A from-scratch, DataFrame-first re-expression of the capabilities of the
reference pipeline (klmilam/videos-to-tfrecords: an Apache Beam batch ETL that
converts videos into TensorFlow SequenceExample TFRecords), widened into a
general engine:

- every reference operator (SURVEY.md §2) as a composable
  ``DataFrame -> DataFrame`` function (mirroring the reference's
  ``@beam.ptransform_fn`` composition style, reference preprocess.py:36-368),
- the relational surface the reference lacks (joins/aggs/sorts/set ops/window
  functions) exposed straight from Spark SQL,
- LLM-data-pipeline operators (dedup, similarity search, multimodal columns,
  text analysis) designed for 100 TB scale.

Design stance: declare logical plans with the DataFrame/SQL API and let
Catalyst/Tungsten choose physical strategy; Python only at genuinely opaque
boundaries (video decode, model inference, proto serialization), and there
always Arrow-batched.
"""

__version__ = "0.1.0"
