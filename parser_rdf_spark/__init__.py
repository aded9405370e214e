# Every UDF cloudpickle loads from this package imports the package first,
# so each reused Python worker is patched after its first task.
from .zipguard import install as _install_zipguard

_install_zipguard()
