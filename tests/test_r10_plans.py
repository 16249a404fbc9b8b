"""Plan rules for the crawl-format extractors and compositions.

The 100 TB argument for every byte-path extractor is structural: the
physical plan must be scan → (optional id repartition) → Arrow map →
project, with NO data-bearing shuffle — cost strictly per payload.
The three composition queries are allowed the aggregation exchanges
Catalyst plans for their groupBy. The rules are rows of
``plan_signature.INVARIANTS``, checked here on each query's golden
signature; ``test_driver_queries.py::test_query_matches_oracle`` checks
that signature against the plan it oracle-checks, so nothing is built
here.
"""

import pytest

from .plan_signature import (
    COMPOSITIONS,
    CRAWL_EXTRACTORS,
    assert_golden_keeps_invariants,
)


@pytest.mark.parametrize("name", CRAWL_EXTRACTORS)
def test_extractors_have_no_payload_shuffle(name):
    assert_golden_keeps_invariants(name)


@pytest.mark.parametrize("name", COMPOSITIONS)
def test_compositions_aggregate_with_one_shuffle(name):
    assert_golden_keeps_invariants(name)
