"""``tools/settables.py`` counts a module's settable values by one fixed
rule, so that counts from different trees compare."""

from tools.settables import PACKAGE, count, main

SOURCE = '''
import os
from dataclasses import dataclass
from typing import ClassVar

KEY = "APP_CPUS"


@dataclass(frozen=True)
class Options:
    url: str
    retries: int = 3
    LIMIT: ClassVar[int] = 9
    plain = 1


class Client:
    def __init__(self, opts, *, timeout=1.0):
        self.cpus = int(os.environ.get(KEY, 4))

    @classmethod
    def build(cls, *args, **kwargs):
        return os.getenv("APP_CPUS") or os.environ["APP_HOME"]


square = lambda x: x * x  # noqa: E731
'''


def test_count_of_a_known_source():
    """Two dataclass fields (not the ``ClassVar``, not the bare name), two
    ``__init__`` parameters, ``*args`` and ``**kwargs`` (not ``self`` or
    ``cls``), the lambda's ``x``, and two environment keys: ``APP_CPUS``
    read by constant and by literal is one."""
    assert count(SOURCE) == 9


def test_walk_prints_a_total_that_sums_its_files(capsys):
    main([str(PACKAGE)])
    lines = [line.split() for line in capsys.readouterr().out.splitlines()]
    assert lines[-1][1] == "total"
    assert int(lines[-1][0]) == sum(int(n) for n, _ in lines[:-1]) > 0
