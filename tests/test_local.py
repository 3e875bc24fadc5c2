"""The bounded-local seam (operators/local.py): registry queries gated
on it return the same rows on their driver-local and distributed
paths."""


def test_seam_gated_queries_match_distributed(spark, local_caps, sf01_dir):
    """triangle_counts and the three grid runners at default caps (the
    driver finishes) and with every cap at 0 (the distributed
    fallbacks, including triangles_pinned's pinned wedge join)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    names = ["triangle_counts", "distance_transform", "cost_distance",
             "flow_accumulation"]

    def rows(name):
        return sorted(map(tuple, queries[name](spark, sf01_dir).collect()))

    driver = {name: rows(name) for name in names}
    local_caps(0)
    for name in names:
        assert rows(name) == driver[name] and driver[name], name
