"""Session sizing from the master string (no cluster needed)."""

import os

import pytest

from belb_spark.session import cores_from_master


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[4,2]", 4),
        ("local[*]", os.cpu_count() or 8),
        ("local[*, 3]", os.cpu_count() or 8),
        # the driver's cpu count says nothing about a cluster's cores:
        # the deployment's own parallelism settings stand
        ("spark://host:7077", None),
        ("yarn", None),
        ("k8s://https://host:443", None),
        ("local-cluster[2,1,1024]", None),
    ],
)
def test_cores_from_master(master, cores):
    assert cores_from_master(master) == cores

