import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cello_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cello_spark_tests",
        cores=min(8, os.cpu_count() or 1),
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def onto():
    from cello_spark.sources.fixtures import make_ontology

    return make_ontology()


@pytest.fixture(scope="session")
def small_world(onto):
    """200-doc deterministic world: documents, features, truth, weights,
    thresholds."""
    from cello_spark.sources.fixtures import (
        make_documents,
        make_model_weights,
        make_thresholds,
    )

    docs, feats, truth = make_documents(onto, n_docs=200)
    weights = make_model_weights(onto)
    thresholds = make_thresholds(onto)
    return {
        "documents": docs,
        "features": feats,
        "truth": truth,
        "weights": weights,
        "thresholds": thresholds,
    }


@pytest.fixture(scope="session")
def label_edges(onto):
    import pandas as pd

    lab = set(onto.labels)
    all_edges = pd.concat([onto.edges, onto.patch_edges])
    return [
        (c, p)
        for c, p, r in all_edges[["src", "dst", "rel"]].itertuples(index=False)
        if r == "is_a" and c in lab and p in lab
    ]
