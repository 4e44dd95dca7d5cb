"""Engine operator surface.

- ``wordcount``  — reference-parity operators (SURVEY.md §2.1 O1-O9).
- ``relational`` — projection/filter/join/agg/window/setop coverage
  (SURVEY.md §2.3) over the star schema.
- ``dedup``      — exact + near-duplicate document dedup.
- ``similarity`` — vector similarity search over embeddings.
- ``text``       — language-ID, quality scoring, token counting,
  fingerprinting.
- ``multimodal`` — binary media columns with native image/audio/video codecs.
"""
