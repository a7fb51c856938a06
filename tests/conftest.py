from __future__ import annotations

import os

import pytest
from hypothesis import settings

from graph_embeddings_spark.session import get_spark

# Hypothesis runs derandomized by default, so every run of the suite draws
# the same examples and a red test stays red. HYPOTHESIS_PROFILE=dev opts
# into a randomized search with more examples (tests that set max_examples
# scale theirs from the profile's).
settings.register_profile("ci", derandomize=True, database=None, deadline=None)
settings.register_profile("dev", max_examples=500, deadline=None)
settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "ci"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def world():
    from graph_embeddings_spark.corpus import build_world

    return build_world(seed=42, n_entities=120)
