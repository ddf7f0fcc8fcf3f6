"""dq_true_north_spark — a from-scratch PySpark-native rebuild of the
chiribauc/dq_true_north data-quality rule engine, recast as a web-corpus
quality-filter pipeline (langid + perplexity + Gopher/C4 heuristics +
PII/toxicity scrub) per BASELINE.json's north_rule.

Architecture (reference parity, Spark-first implementation):
  catalog  -> rule-catalog DataFrame  (reference: RULE_CATALOG, dq_engine.py:27)
  engine   -> driver-side dispatch loop with per-rule error isolation
              (reference: dq_engine.py:87-138)
  rules/   -> the 8 rule families re-expressed as Catalyst plans
              (reference: dq_rules_library.py)
  textquality/ -> the web-text payload: heuristics as SQL expressions,
              langid/perplexity/scrub as Arrow-vectorized pandas UDFs
  lineage  -> run manifest + per-partition lineage rows + resume
"""

__version__ = "0.1.0"
