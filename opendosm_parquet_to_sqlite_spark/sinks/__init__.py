from .sqlite import write_sqlite  # noqa: F401
from .zipsink import zip_artifact  # noqa: F401
