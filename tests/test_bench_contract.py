"""The benchmark's hooks into the engine.

``perfbench/run.py --trace 1`` wraps engine functions by attribute
(``patch_layers``) and relies on ``run_epochs`` looking ``run_epoch`` up as
a module global, so the wrapper sees every epoch. Deleting or renaming a
hooked function must fail here, not first in a benchmark run.
"""

from perfbench import workloads as W
from webcrawler_spark.plans import epoch as E


class _StubTracer:
    def __init__(self):
        self.targets = []

    def patch(self, owner, attr):
        self.targets.append((owner, attr))


def test_patch_layers_targets_exist():
    tracer = _StubTracer()
    W.patch_layers(tracer)
    assert tracer.targets
    for owner, attr in tracer.targets:
        assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr}"


def test_run_epochs_calls_module_global_run_epoch():
    assert "run_epoch" in E.run_epochs.__code__.co_names
