from .csv_source import read_charges_csv  # noqa: F401
from .tables import load_tables  # noqa: F401
