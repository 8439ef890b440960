from . import pyworker

pyworker.install()
