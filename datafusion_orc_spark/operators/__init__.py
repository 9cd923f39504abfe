"""Arrow-vectorized Spark operators: the engine's hot path.

``mapInArrow`` encode and decode — zero per-row Python
(BASELINE.json input_hint: vectorized pandas/Arrow UDFs only).
"""
