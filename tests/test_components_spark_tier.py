"""tests/test_components.py re-run on the Spark tier.

Its graphs are far below ``ranking.LOCAL_MAX_EDGES``, so there
connected components and SCC run on the driver; here the ``spark_tier``
fixture lowers the cap so every test runs the Spark loops.  The two
Spark tiers differ only in the ranking power step, so one is enough.
The star-contraction test is left out: it never reaches the tier
decision."""

import pytest

from tests.test_components import *  # noqa: F401,F403

del test_star_matches_union_find_on_random_graph  # noqa: F821

pytestmark = [
    pytest.mark.usefixtures("spark_tier"),
    pytest.mark.parametrize("spark_tier", ["broadcast"], indirect=True),
]
