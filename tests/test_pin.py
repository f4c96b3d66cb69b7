"""``sources.session.pin`` is the one way the package pins an
intermediate."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import findtextcenternet_spark
from findtextcenternet_spark.sources.session import pin

_PKG = pathlib.Path(findtextcenternet_spark.__file__).parent
_PIN_CALL = re.compile(r"localCheckpoint\(|\.checkpoint\(")


def test_only_pin_checkpoints():
    """No module but ``sources/session.py`` calls ``localCheckpoint`` or
    ``checkpoint``: every other site goes through ``pin``, which observes
    its metrics on the same eager query."""
    hits = [f"{path.relative_to(_PKG)}:{n}"
            for path in sorted(_PKG.rglob("*.py"))
            if path.relative_to(_PKG).as_posix() != "sources/session.py"
            for n, line in enumerate(path.read_text().splitlines(), 1)
            if _PIN_CALL.search(line)]
    assert not hits, hits


def test_pin_values_on_empty_input(spark, deadline):
    """A count and a sum over no rows both read 0, whether the input is
    empty when planned or a shuffle leaves it empty at run time (a node
    AQE may prune, whose Observation row has no fields); an alias the
    metrics do not name raises either way."""
    metrics = (F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    for df in (spark.range(0),
               spark.range(10).repartition(3, "id").filter("id > 99")):
        with deadline(300):
            pinned, values = pin(df, *metrics)
            assert pinned.count() == 0
        assert values == {"n": 0, "s": 0}
        with pytest.raises(KeyError):
            values["t"]
