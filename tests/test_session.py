"""Session sizing: the core count comes from an explicit ``local[N]``
master. Pure parse tests; they start no session."""

from __future__ import annotations

from sparkstreaming_gmall_demo_spark.session import local_cores


def test_local_cores_parses_explicit_master():
    assert local_cores("local[8]") == 8
    assert local_cores("local[3,2]") == 3
    assert local_cores("local") == 1


def test_local_cores_defers_to_host_for_star_and_clusters():
    assert local_cores("local[*]") is None
    assert local_cores("local[*,4]") is None
    assert local_cores("spark://host:7077") is None
    assert local_cores("yarn") is None
