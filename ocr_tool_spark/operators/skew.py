"""Explicit skew-join salting (SURVEY.md C3/J3; BASELINE.json north_rule
"explicit salting of skewed media-heavy partitions").

AQE's skew-join splitting handles sort-merge joins it can measure, but
not (a) joins below its stats radar, (b) grouped aggregation, or
(c) Python-stage inputs. This module provides the manual pattern:

- probe (large, skewed) side: append ``salt = pmod(xxhash64(random-ish
  but DETERMINISTIC row key), S)`` — spreads one hot key over S
  reducer partitions;
- build (smaller) side: replicate each row S times with
  ``explode(sequence(0, S-1))``;
- join on (key, salt).

Deterministic: the probe salt derives from row content (doc_id or a
monotonic id), never rand() — reruns and resumes stay reproducible
(J5). Result equality with the unsalted join is property-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to hot keys on the probe side. The probe salt
    is the xxhash64 of the whole probe row, so rows sharing a hot key
    still spread over `salt` partitions.

    Only probe-preserving join types are allowed: the build side is
    replicated `salt` times, so for right/full joins every unmatched
    build row would surface `salt` times in the output.
    """
    # accept every Spark alias for the probe-preserving types
    probe_preserving = {
        "inner", "cross",
        "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti",
    }
    if how.lower().replace(" ", "") not in probe_preserving:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti (any Spark "
            f"alias spelling), not {how!r}: build-side replication would "
            "duplicate unmatched build rows"
        )
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(salt))
    p = probe.withColumn("_salt", salt_col.cast("int"))
    b = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = p.join(b, [on, "_salt"], how)
    return out.drop("_salt")
