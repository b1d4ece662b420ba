"""IVF constants shared by the persisted-index ANN plan modules
(llm_round10a, llm_round10b, llm_round11a-c, llm_round12).
"""

from __future__ import annotations

# Quantizer ids: BASE-corpus vectors (none =3 or =7 mod 10, so neither
# the query set nor the late batch contributes a centroid), all present
# at every test SF (embeddings has >=500 ids at sf0.001+).
R10_IVF_CENTS = (0, 2, 4, 6, 8, 12, 14, 16)
R10_IVF_CENTS_SQL = str(R10_IVF_CENTS)

R10_IVF_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    "FOR i IN range(1, 65)])), 6)"
)
