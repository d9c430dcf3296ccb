from .dates import ordinal_from_date, date_from_ordinal, prediction_dates_array
from .features import average_reflectance, standard_format_array

__all__ = [
    "ordinal_from_date", "date_from_ordinal", "prediction_dates_array",
    "average_reflectance", "standard_format_array",
]
