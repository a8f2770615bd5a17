"""tests/test_pagerank.py re-run on the Spark tiers (see
tests/test_ranking_spark_tier.py)."""

import pytest

from tests.test_pagerank import *  # noqa: F401,F403

del test_pagerank_modes_agree  # noqa: F821

pytestmark = pytest.mark.usefixtures("spark_tier")
