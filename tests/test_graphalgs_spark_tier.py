"""The label-propagation and k-core tests of tests/test_graphalgs.py
re-run on the Spark tier.

Their graphs are far below ``ranking.LOCAL_MAX_EDGES``, so there the
loops run on the driver; here the ``spark_tier`` fixture lowers the cap
so every test runs the Spark loops (one Spark tier is enough: the two
differ only in the ranking power step)."""

import pytest

from tests.test_graphalgs import (  # noqa: F401
    test_k_core_deep_peel_escalates_instead_of_raising,
    test_k_core_known_shape,
    test_k_core_random_matches_bruteforce,
    test_label_propagation_deterministic_across_repartition,
    test_label_propagation_encoded_matches_string_path,
    test_label_propagation_two_cliques_with_bridge,
)

pytestmark = [
    pytest.mark.usefixtures("spark_tier"),
    pytest.mark.parametrize("spark_tier", ["broadcast"], indirect=True),
]
