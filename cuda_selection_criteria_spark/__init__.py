"""cuda_selection_criteria_spark — PySpark-native near-duplicate
detection + clustering engine.

A from-scratch re-imagination of sanhue903/CUDA_Selection_Criteria's
HLL + SuperMinHash selection-criteria cascade for Common-Crawl-style
web pages: vectorized pandas/Arrow sketching, LSH band equi-joins for
candidate generation, exact reference Jaccard verification, and
connected-components clustering. See SURVEY.md for the blueprint.
"""

from .zipimport_guard import install as _install_zipimport_guard

__version__ = "0.1.0"

_install_zipimport_guard()
