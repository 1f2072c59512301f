"""PySpark-native main-content extraction engine (reference: chendesheng/HTMLParser)."""
from . import _pyworker

_pyworker.install()
