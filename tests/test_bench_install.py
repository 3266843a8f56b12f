"""The benchmark's traced mode wraps the engines' eager calls where their
callers look them up — a class's own ``__dict__`` entry, or a module
attribute (``perfbench.trace.Tracer.wrap``).  A refactor that moves a traced
method (say ``step`` into a base class) or calls a traced operator through
another name breaks the traced benchmark; installing every workload's
tracer here makes it fail the test suite too.
"""

import pytest

from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_tracer_installs_and_uninstalls(spark, workdir, name):
    workload = WORKLOADS[name](spark, 61, workdir)
    tracer = Tracer()
    try:
        workload.install(tracer)
        installed = list(tracer._installed)
        assert installed
        for owner, attr, _orig in installed:
            assert hasattr(getattr(owner, attr), "__wrapped__"), (owner, attr)
    finally:
        tracer.uninstall()
    for owner, attr, _orig in installed:
        assert not hasattr(getattr(owner, attr), "__wrapped__"), (owner, attr)
