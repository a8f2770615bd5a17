"""tests/test_ranking.py re-run on the Spark tiers.

Its graphs are far below ``ranking.LOCAL_MAX_EDGES``, so there they rank
on the driver; here the ``spark_tier`` fixture lowers the cap and runs
every test once on the broadcast and once on the shuffle power step.
The tier comparisons are left out: they already run every tier."""

import pytest

from tests.test_ranking import *  # noqa: F401,F403

del test_shuffle_score_join_matches_broadcast, test_tiers_agree_on_random_graph  # noqa: F821

pytestmark = pytest.mark.usefixtures("spark_tier")
