"""The traced benchmark wraps the program at fixed attribute paths
(``perfbench/trace.py`` ``BOUNDARIES``).  A rename in the program would
make ``Tracer.install`` fail at run time, so pin here that every path
still resolves to an attribute defined on its owner."""

from __future__ import annotations

import pytest

from perfbench.trace import BOUNDARIES, _resolve


@pytest.mark.parametrize(
    "name,module,path", BOUNDARIES, ids=[f"{n}:{p}" for n, _, p in BOUNDARIES]
)
def test_boundary_resolves(name, module, path):
    owner, attr = _resolve(module, path)
    # install() patches owner.__dict__[attr]: an inherited attribute would
    # not do
    assert attr in vars(owner), f"{name}: {module}.{path} is not defined there"
    assert callable(vars(owner)[attr])
