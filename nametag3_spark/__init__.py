"""nametag3_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the query & data-processing capabilities of ufal/nametag3
(reference snapshot at /root/reference, studied in SURVEY.md) as an
idiomatic Spark pipeline:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → tokenize (NFC + truecase + word split)          ┐ ONE Arrow pass
      → score: one Scorer.label_batch per Arrow batch   │ [mapInArrow]
        (oracle gazetteer / HF model / NumPy model)     │
      → decode nested spans (one shared automaton)      ┘
        (T3/T4 window packing per conversation [applyInPandas]
         sits downstream; windows map back to turns by key [JVM])
      → mentions → (subj, pred, obj) triples            [DataFrame ops]
      → entity linking (broadcast gazetteer + MinHash-LSH blocking)
      → canonicalization (iterative connected components)
      → SPO tables with per-task lineage rows, snapshot-resumable.

Everything relational (joins, aggregations, eval metrics, sampling,
dedup, similarity) stays in built-in pyspark.sql functions so Catalyst
optimizes it; Python appears only in vectorized Arrow-batched UDFs.
"""

__version__ = "0.1.0"
