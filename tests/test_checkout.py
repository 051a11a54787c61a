"""The tests exercise the checkout they live in: a copy of the tree run
under pytest must import its own package, not another copy's."""

from pathlib import Path

import anndb_spark


def test_package_imported_from_this_checkout():
    checkout = Path(__file__).resolve().parents[1]
    assert Path(anndb_spark.__file__).resolve().is_relative_to(checkout)
