"""The benchmark's traced runs wrap engine functions by (module,
attribute) name; a rename in kgspark would silently break every traced
run, so each hook point must resolve to a callable."""

from __future__ import annotations


def test_benchmark_hook_points_resolve():
    from kgbench import wl_build, wl_serve

    patches = (wl_build.BUILD_PATCHES + wl_build.RUNNER_PATCHES
               + wl_serve._STORE_PATCHES)
    assert patches
    for mod, attr, _layer, _force in patches:
        assert callable(getattr(mod, attr, None)), (mod.__name__, attr)
