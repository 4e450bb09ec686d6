"""belb_spark — a from-scratch PySpark-native entity-resolution engine.

Re-expresses the record-linkage semantics of sg-wbi/belb (KB normalization,
synonym expansion, identifier-history resolution, identical-synset merging —
see SURVEY.md) as a three-stage blocking → pairwise-scoring → transitive-
clustering pipeline over a table of source-code files
``(repo, path, commit, lang, content)``.

Design tenets (SURVEY.md §7):
- DataFrame/Catalyst first; Python only in one vectorized pandas UDF per stage.
- Every id assigned by ``row_number`` over an explicit order (determinism).
- ``content`` is never rewritten: normalization produces derived columns only,
  and ``sha256(content)`` is carried and asserted through every stage.
- Explicit partitioning and an anchor cap for the within-block self-join; AQE on.
- Each stage checkpoints to Parquet (Iceberg-style manifest) and resumes.
"""

__version__ = "0.1.0"
