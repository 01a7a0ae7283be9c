from .testdata import load_table  # noqa: F401
