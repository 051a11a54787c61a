"""Each curation operator has one implementation: no public function of
the dedup, text, curation, temporal or streaming-dedup modules takes a
``kernel`` or ``form`` switch between equivalent forms.  The reference
forms the tests compare against live in ``tests/operator_oracle.py``.

The one exception is ``curation.decontaminate(kernel=)``: its
``"expr"`` form is the broadcast-join escape hatch for benchmark gram
sets too large to collect, and its error message points users to it.

No index search takes a ``cache_token``: the saved-index servers key
what they keep by the index's content fingerprint, and a DataFrame
index has none to key by.  PQ has one search, the batch one.
"""

import inspect

import pytest

from anndb_spark.operators import curation, dedup, hnsw, ivf, ivfpq, pq, temporal, text
from anndb_spark.streaming import dedup as streaming_dedup
from anndb_spark.streaming import search as streaming_search

MODULES = (dedup, text, curation, temporal, streaming_dedup)
SWITCHES = {"kernel", "form"}
ALLOWED = {("anndb_spark.operators.curation", "decontaminate", "kernel")}


def _public_functions(module):
    for name, fn in vars(module).items():
        if (
            not name.startswith("_")
            and inspect.isfunction(fn)
            and fn.__module__ == module.__name__
        ):
            yield name, fn


@pytest.mark.parametrize("module", MODULES, ids=lambda m: m.__name__)
def test_no_form_switches(module):
    found = [
        (module.__name__, name, param)
        for name, fn in _public_functions(module)
        for param in inspect.signature(fn).parameters
        if param in SWITCHES
    ]
    assert [f for f in found if f not in ALLOWED] == []


def test_single_changelog_compactor():
    from anndb_spark.operators import crud

    assert not hasattr(crud, "apply_changes")
    assert callable(crud.apply_changes_sql)


@pytest.mark.parametrize(
    "module", (hnsw, ivf, ivfpq, pq, streaming_search), ids=lambda m: m.__name__
)
def test_no_search_takes_a_cache_token(module):
    assert [
        name
        for name, fn in _public_functions(module)
        if "cache_token" in inspect.signature(fn).parameters
    ] == []


def test_pq_has_one_search():
    assert not hasattr(pq, "pq_search")
    assert callable(pq.pq_search_batch)
