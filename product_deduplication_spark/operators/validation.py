"""Label audit of the reference's maintenance scripts.

``classification_accuracy`` re-expresses the agent-label accuracy print of
``reference/clean_canonical.py:18-22`` as a one-row DataFrame. The links and
catalog repair jobs (``reference/links_fix.py``, ``reference/canon_fix.py``)
are not carried forward: no entry point produces the broken tables they
mend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def classification_accuracy(links: DataFrame, label_col: str = "label") -> DataFrame:
    """clean_canonical.py:18-22: agents mark group assignments true/false;
    report the true-rate over labeled rows. Labels are trimmed+lowercased
    (the reference's .str.strip().str.lower()); the rate is rounded to 3dp
    exactly as the reference prints it. Returns one row
    (n_labeled bigint, accuracy double)."""
    norm = F.lower(F.trim(F.col(label_col)))
    labeled = links.where(F.col(label_col).isNotNull())
    return labeled.agg(
        F.count("*").cast("long").alias("n_labeled"),
        F.round(
            F.sum((norm == "true").cast("long")) / F.count("*"), 3
        ).alias("accuracy"),
    )
