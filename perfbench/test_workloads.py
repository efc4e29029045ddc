"""Tests of the workload definitions; no Spark needed."""

from __future__ import annotations

from perfbench import workloads


def test_pass_order_rotates_groups_and_keeps_their_members_in_order():
    groups = [["a1", "a2"], ["b"], ["c1", "c2"]]
    assert workloads.pass_order(groups, seed=0, pass_no=0) == ["a1", "a2", "b", "c1", "c2"]
    assert workloads.pass_order(groups, seed=1, pass_no=0) == ["b", "c1", "c2", "a1", "a2"]
    # The next pass of the same run starts one group later.
    assert workloads.pass_order(groups, seed=1, pass_no=1) == ["c1", "c2", "a1", "a2", "b"]
    assert workloads.pass_order(groups, seed=4, pass_no=0) == workloads.pass_order(groups, 1, 0)


def test_every_workload_runs_each_call_once_per_pass():
    for groups in workloads.WORKLOADS.values():
        names = [n for g in groups for n in g]
        assert len(names) == len(set(names))
        assert sorted(workloads.pass_order(groups, seed=7, pass_no=3)) == sorted(names)
    assert len(workloads.WORKLOADS["tpch"]) == 22
