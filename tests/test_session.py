"""Session confs that change query semantics (mie_spark/session.py).

``get_spark`` turns Spark 4's ICU case mapping off, so ``lower``/``upper``
run through ``UTF8String.toLowerCase``/``toUpperCase`` as in Spark 3.x:
an ASCII fast path, otherwise the JVM's ``String.toLowerCase`` /
``toUpperCase`` in the JVM's DEFAULT LOCALE (under a Turkish or
Lithuanian default locale the dotted/dotless i rules would differ). The
probes below pin that both agree with Python's locale-independent
``str.lower``/``str.upper`` on non-ASCII text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

_PROBES = [
    "İSTANBUL",  # dotted capital I: lower-cases to i + combining dot
    "straße",  # sharp s upper-cases to SS
    "ΟΔΟΣ ΟΔΟΣ",  # final sigma
    "ǅungla",  # titlecase digraph
    "ﬁle",  # ligature upper-cases to FI
    "Ꭰ ꭰ",  # Cherokee
    "ᲐᲑᲒ",  # Georgian Mtavruli
    "K",  # Kelvin sign
    "Mixed ASCII 123",
]


def test_icu_case_mapping_is_off(spark):
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


@pytest.mark.parametrize("text", _PROBES)
def test_case_mapping_matches_python(spark, text):
    row = (
        spark.createDataFrame([(text,)], "t string")
        .select(F.lower("t").alias("lo"), F.upper("t").alias("up"))
        .collect()[0]
    )
    assert (row["lo"], row["up"]) == (text.lower(), text.upper())
