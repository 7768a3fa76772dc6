"""``tools/parity.py`` sweep: a dead driver JVM is one named error.

When the JVM behind the session exits mid-sweep, every later entry fails
to reach it ("connection refused"). The sweep reports the death once,
with the entry that was running and the JVM's exit status, and stops
with a non-zero exit. Stub sessions stand in for Spark here.
"""

from __future__ import annotations

import subprocess
from types import SimpleNamespace

from tools.parity import sweep


class _Proc:
    def __init__(self, returncode):
        self.returncode = returncode

    def wait(self, timeout=None):
        if self.returncode is None:
            raise subprocess.TimeoutExpired("java", timeout)
        return self.returncode


def _stub_session(returncode):
    gateway = SimpleNamespace(proc=_Proc(returncode))
    return SimpleNamespace(sparkContext=SimpleNamespace(_gateway=gateway))


def _unreachable_catalog(names, ran):
    def entry(name):
        def fn(spark, sf_dir):
            ran.append(name)
            raise ConnectionRefusedError(111, "Connection refused")

        return SimpleNamespace(fn=fn)

    return {name: entry(name) for name in names}


def test_dead_driver_jvm_stops_the_sweep_with_one_named_error(capsys):
    names, ran = ["first", "second", "third"], []
    code = sweep(_stub_session(-9), None, _unreachable_catalog(names, ran), names, "unused")
    fails = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("FAIL")]
    assert code != 0
    assert ran == ["first"]
    (line,) = fails
    assert "'status': 'DRIVER_JVM_EXITED'" in line
    assert "'name': 'first'" in line and "'exit_code': -9" in line
    assert "'not_run': 2" in line


def test_entry_errors_with_a_live_jvm_keep_the_sweep_going(capsys):
    names, ran = ["first", "second"], []
    code = sweep(_stub_session(None), None, _unreachable_catalog(names, ran), names, "unused")
    fails = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("FAIL")]
    assert code == 1
    assert ran == names
    assert len(fails) == 2 and all("'status': 'ERROR'" in ln for ln in fails)
