"""Byte-identity guard over the driver contract: the ``queries()`` name
order and the ``oracle_sql()`` text of every entry.

A refactor of builders or helpers must leave both untouched; a change
that means to alter the contract (a new entry, a mended oracle) updates
the pinned digests here in the same change, so every contract change is
a visible diff. Doc text (``QuerySpec.doc``) is outside the guard.
"""

import hashlib
import json

from streamlit_projet_spark_streaming_spark.registry import oracle_sql, queries

N_ENTRIES = 303
NAMES_SHA256 = "5d68a76f9ed63e4ef7cf617dc4dc6225006b8d41d8f22f197b08f0bd3bc837dc"
ORACLES_SHA256 = "3d19c70e0a24ff74a39b5bc8053070fc35b40ce588276b905cf4eaa15202b1c6"


def _sha256(obj):
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_query_names_and_order_are_pinned():
    names = list(queries())
    assert len(names) == N_ENTRIES
    assert _sha256(names) == NAMES_SHA256


def test_oracle_text_is_pinned():
    names = list(queries())
    oracles = oracle_sql()
    assert sorted(oracles) == sorted(names)
    assert _sha256([[n, oracles.get(n)] for n in names]) == ORACLES_SHA256
